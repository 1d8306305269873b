package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.OpDef
import graft.sources.Tables

/** SURVEY §2 #286-#289 and #293-#299 — r12 additions: risk-adjusted rolling
  * series, variance-homogeneity testing, forecast-skill scoring,
  * cross-source vocabulary overlap, lead-lag cross-correlation, normality
  * testing, long-range dependence, market indicators, structural breaks,
  * and a distributed Poisson bootstrap.
  *
  * Same parity discipline as the rest of the bank (SURVEY §5): every
  * accumulated amount folds in exact decimals; doubles appear only in a
  * final IEEE chain that is spelled identically on both engines;
  * order-dependent float folds get a `round(·, k)` clamp at the output
  * boundary only.
  */
object AnalyticsR12 {

  /** Integer epoch-day of the event timestamp (exact on both engines). */
  private val epochDay =
    datediff(col("ts").cast(DateType), to_date(lit("1970-01-01")))
      .cast(LongType)

  private val epochDaySql =
    "datediff('day', DATE '1970-01-01', CAST(ts AS DATE))"

  // ---- #299 bootstrap mixers ----------------------------------------------
  // 64 md5-seeded affine replicate mixers over the Mersenne prime 2^31−1 —
  // the MinHashAgg permutation discipline: ONE portable md5 per row
  // (folded to 32 bits so a·h never overflows int64 on either engine),
  // then replicate b's draw is (a_b·h + b_b) mod P mod 10^6. Engine-
  // identical, seedless, and 64× cheaper than hashing (event_id, b) —
  // md5 was the whole cost of the op (9.3 s of the sf0.1 sweep's worst
  // query; the mixes are codegen integer arithmetic).
  private val BootP = graft.functions.MinHashAgg.Prime
  private val BootA: IndexedSeq[Long] = graft.functions.BootstrapCellsAgg.defaultA
  private val BootB: IndexedSeq[Long] = graft.functions.BootstrapCellsAgg.defaultB

  private def sqlLongList(xs: Seq[Long]): String = xs.mkString("[", ", ", "]")

  val defs: Map[String, OpDef] = Map(
    // ---- #286 trailing-7-day rolling Sharpe per instrument ----------------
    // The risk read-out a market sink keeps live over #262's bars: daily
    // net flow per event_type, then mean/σ of the trailing 7-day window,
    // sharpe = mean/σ. The daily grain collapses FIRST (one exchange on
    // (type, day) with map-side partials, exact DECIMAL(18,2) flows and
    // DECIMAL x² cells); the RANGE frame then rides the ≤ |types|×|days|
    // cell grain — a bounded RANGE window on an integer day key, NEVER a
    // self-join on a date inequality, so the 100 TB plan is one cell-grain
    // exchange regardless of event count. Moments stay decimal inside the
    // frame; the mean/var/sqrt chain is one identical IEEE sequence on both
    // engines → round(·, 4). Windows with < 3 days or zero variance drop
    // under the same exact predicates.
    "rolling_sharpe" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t, $epochDaySql AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |cells AS (SELECT t, d, v, v * v AS v2 FROM daily),
         |win AS (
         |  SELECT t, d,
         |    CAST(COUNT(*) OVER w AS BIGINT) AS n_days,
         |    SUM(v) OVER w AS s, SUM(v2) OVER w AS q
         |  FROM cells
         |  WINDOW w AS (PARTITION BY t ORDER BY d
         |               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)),
         |st AS (
         |  SELECT t, d, n_days, CAST(s AS DOUBLE) AS sd, CAST(q AS DOUBLE) AS qd
         |  FROM win WHERE n_days >= 3),
         |v AS (
         |  SELECT t, d, n_days, sd,
         |    (qd - sd * sd / n_days) / (n_days - 1) AS var
         |  FROM st)
         |SELECT t AS event_type, d AS day, n_days,
         |  round((sd / n_days) / sqrt(var), 4) AS sharpe
         |FROM v WHERE var > 0
         |ORDER BY event_type, day""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
        .withColumn("v2", col("v") * col("v"))
      val w = Window.partitionBy("t").orderBy("d").rangeBetween(-6, 0)
      daily
        .withColumn("n_days", count(lit(1)).over(w).cast(LongType))
        .withColumn("s", sum("v").over(w))
        .withColumn("q", sum("v2").over(w))
        .filter(col("n_days") >= 3)
        .withColumn("sd", col("s").cast(DoubleType))
        .withColumn("qd", col("q").cast(DoubleType))
        .withColumn("var",
          (col("qd") - col("sd") * col("sd") / col("n_days"))
            / (col("n_days") - 1))
        .filter(col("var") > 0)
        .select(col("t").as("event_type"), col("d").as("day"), col("n_days"),
          round((col("sd") / col("n_days")) / sqrt(col("var")), 4)
            .as("sharpe"))
        .orderBy("event_type", "day")
    },

    // ---- #287 Brown–Forsythe variance-homogeneity test --------------------
    // Levene's test with median centers (the robust form): are the value
    // spreads equal across event types? z_ij = |x_ij − median_j|, W =
    // ((N−k)/(k−1)) · BSS(z)/WSS(z). The per-type EXACT lower median comes
    // from the mad_exact selection move (2-dp value grain + cumulative-count
    // window — one grain exchange, one t-window); the k-row median table
    // then broadcast-joins back onto the raw scan (k = |types|, a constant
    // at any corpus scale), so z folds per ROW with no second fact shuffle
    // beyond the final t-grain moment collapse. All of n/Σz/Σz² are exact
    // decimals; the F chain is the anova_f IEEE sequence → round(·, 4).
    "levene_test" -> OpDef(
      """WITH g AS (
        |  SELECT event_type AS t, CAST("value" AS DECIMAL(18,2)) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |cw AS (
        |  SELECT t, v, c,
        |    SUM(c) OVER (PARTITION BY t ORDER BY v) AS cum,
        |    SUM(c) OVER (PARTITION BY t) AS n
        |  FROM g),
        |med AS (
        |  SELECT t, MIN(v) AS med FROM cw WHERE 2 * cum >= n GROUP BY t),
        |z AS (
        |  SELECT e.event_type AS t,
        |    abs(CAST(e."value" AS DECIMAL(18,2)) - m.med) AS z
        |  FROM events e JOIN med m ON e.event_type = m.t),
        |zg AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(z) AS sz, SUM(z * z) AS qz
        |  FROM z GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(sz) AS DOUBLE) AS s, CAST(SUM(qz) AS DOUBLE) AS q,
        |    SUM(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / ng) AS a
        |  FROM zg)
        |SELECT k, n,
        |  round(((a - s * s / n) / (k - 1)) / ((q - a) / (n - k)), 4)
        |    AS w_stat
        |FROM m""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("t").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("t")
      val med = g
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(wAll))
        .filter(lit(2) * col("cum") >= col("n"))
        .groupBy("t").agg(min("v").as("med"))
      val z = Tables(s, dir, "events")
        .join(broadcast(med), col("event_type") === col("t"))
        .select(col("t"),
          abs(col("value").cast(DecimalType(18, 2)) - col("med")).as("z"))
      val zg = z.groupBy("t")
        .agg(count(lit(1)).as("ng"), sum("z").as("sz"),
          sum(col("z") * col("z")).as("qz"))
      val m = zg.agg(
        count(lit(1)).as("k"), sum("ng").as("n"),
        sum("sz").cast(DoubleType).as("s"),
        sum("qz").cast(DoubleType).as("q"),
        sum(col("sz").cast(DoubleType) * col("sz").cast(DoubleType)
          / col("ng")).as("a"))
      val k = col("k"); val n = col("n"); val a = col("a")
      m.select(k, n,
        round(((a - col("s") * col("s") / n) / (k - 1))
          / ((col("q") - a) / (n - k)), 4).as("w_stat"))
    },

    // ---- #288 seasonal-naive forecast skill per instrument ----------------
    // How forecastable is each type's daily flow? Score the week-ago
    // seasonal-naive forecast (ŷ_t = y_{t−7 days}) against the yesterday
    // naive (ŷ_t = y_{t−1 day}) on exactly the days where BOTH exist at
    // their true calendar gaps: MAE and RMSE of the seasonal forecast, and
    // MASE = MAE_seasonal / MAE_naive1 (< 1 ⇒ weekly seasonality carries
    // real signal). Daily grain collapse (one exchange), then row-lags on
    // the cell grain with the lagged DAY re-checked (a gap-aware lag: ROWS
    // lag + calendar guard, no self-join); errors fold as exact decimals so
    // MAE and MASE are each ONE double divide chain — no rounding clamp
    // needed beyond round(·, 6) at output; RMSE's sqrt is the only libm
    // step.
    "seasonal_error" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t, $epochDaySql AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |lagd AS (
         |  SELECT t, d, v,
         |    lag(v, 7) OVER w AS y7, lag(d, 7) OVER w AS d7,
         |    lag(v, 1) OVER w AS y1, lag(d, 1) OVER w AS d1
         |  FROM daily WINDOW w AS (PARTITION BY t ORDER BY d)),
         |ev AS (
         |  SELECT t, abs(v - y7) AS e7, (v - y7) * (v - y7) AS sq7,
         |    abs(v - y1) AS e1
         |  FROM lagd WHERE d - d7 = 7 AND d - d1 = 1),
         |ag AS (
         |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |    CAST(SUM(e7) AS DOUBLE) AS se7, CAST(SUM(sq7) AS DOUBLE) AS sq,
         |    CAST(SUM(e1) AS DOUBLE) AS se1
         |  FROM ev GROUP BY 1)
         |SELECT t AS event_type, n_eval,
         |  round(se7 / n_eval, 6) AS mae,
         |  round(sqrt(sq / n_eval), 6) AS rmse,
         |  CASE WHEN se1 > 0 THEN round((se7 / n_eval) / (se1 / n_eval), 6)
         |       END AS mase
         |FROM ag ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      val w = Window.partitionBy("t").orderBy("d")
      val ev = daily
        .withColumn("y7", lag("v", 7).over(w))
        .withColumn("d7", lag("d", 7).over(w))
        .withColumn("y1", lag("v", 1).over(w))
        .withColumn("d1", lag("d", 1).over(w))
        .filter(col("d") - col("d7") === 7 && col("d") - col("d1") === 1)
        .select(col("t"), abs(col("v") - col("y7")).as("e7"),
          ((col("v") - col("y7")) * (col("v") - col("y7"))).as("sq7"),
          abs(col("v") - col("y1")).as("e1"))
      ev.groupBy("t")
        .agg(count(lit(1)).cast(LongType).as("n_eval"),
          sum("e7").cast(DoubleType).as("se7"),
          sum("sq7").cast(DoubleType).as("sq"),
          sum("e1").cast(DoubleType).as("se1"))
        .select(col("t").as("event_type"), col("n_eval"),
          round(col("se7") / col("n_eval"), 6).as("mae"),
          round(sqrt(col("sq") / col("n_eval")), 6).as("rmse"),
          when(col("se1") > 0,
            round((col("se7") / col("n_eval")) / (col("se1") / col("n_eval")),
              6)).as("mase"))
        .orderBy("event_type")
    },

    // ---- #290 Wald–Wolfowitz runs test on daily up/down moves -------------
    // Is each type's daily flow a random walk, or does it trend/mean-revert?
    // Signs of consecutive-day deltas (zeros and calendar gaps excluded —
    // the delta must be a TRUE 1-day move), runs counted as sign changes
    // over the FILTERED sequence, then the classical z against the
    // random-arrangement null. Daily grain collapse (one exchange) → two
    // cell-grain window passes on the SAME (t, day) ordering (lag for the
    // delta, lag for the previous sign — no new exchange) → per-type
    // integer collapse. Everything is exact integers until the final
    // μ/σ/z chain → round(·, 4).
    "runs_test" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t, $epochDaySql AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |mv AS (
         |  SELECT t, d, v - lag(v) OVER w AS dv, d - lag(d) OVER w AS gap
         |  FROM daily WINDOW w AS (PARTITION BY t ORDER BY d)),
         |sg AS (
         |  SELECT t, d, CASE WHEN dv > 0 THEN 1 ELSE -1 END AS s
         |  FROM mv WHERE gap = 1 AND dv <> 0),
         |runs AS (
         |  SELECT t, s,
         |    CASE WHEN lag(s) OVER (PARTITION BY t ORDER BY d) IS DISTINCT
         |         FROM s THEN 1 ELSE 0 END AS new_run
         |  FROM sg),
         |ag AS (
         |  SELECT t,
         |    CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         |    CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dn,
         |    CAST(SUM(new_run) AS BIGINT) AS n_runs
         |  FROM runs GROUP BY 1),
         |st AS (
         |  SELECT t, n_up, n_dn, n_runs,
         |    2.0 * n_up * n_dn / (n_up + n_dn) + 1 AS mu,
         |    2.0 * n_up * n_dn * (2.0 * n_up * n_dn - n_up - n_dn)
         |      / ((n_up + n_dn) * (n_up + n_dn) * (n_up + n_dn - 1.0)) AS var
         |  FROM ag WHERE n_up > 0 AND n_dn > 0 AND n_up + n_dn > 1)
         |SELECT t AS event_type, n_up, n_dn, n_runs,
         |  round((n_runs - mu) / sqrt(var), 4) AS z
         |FROM st WHERE var > 0 ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      val w = Window.partitionBy("t").orderBy("d")
      val sg = daily
        .withColumn("dv", col("v") - lag("v", 1).over(w))
        .withColumn("gap", col("d") - lag("d", 1).over(w))
        .filter(col("gap") === 1 && col("dv") =!= 0)
        .select(col("t"), col("d"),
          when(col("dv") > 0, lit(1)).otherwise(lit(-1)).as("s"))
      val ag = sg
        .withColumn("new_run",
          when(not(lag("s", 1).over(w) <=> col("s")), lit(1)).otherwise(lit(0)))
        .groupBy("t")
        .agg(sum(when(col("s") === 1, 1).otherwise(0)).cast(LongType)
          .as("n_up"),
          sum(when(col("s") === -1, 1).otherwise(0)).cast(LongType)
            .as("n_dn"),
          sum("new_run").cast(LongType).as("n_runs"))
        .filter(col("n_up") > 0 && col("n_dn") > 0
          && col("n_up") + col("n_dn") > 1)
      val nUp = col("n_up"); val nDn = col("n_dn")
      val mu = lit(2.0) * nUp * nDn / (nUp + nDn) + 1
      val vr = (lit(2.0) * nUp * nDn * (lit(2.0) * nUp * nDn - nUp - nDn)
        / ((nUp + nDn) * (nUp + nDn) * (nUp + nDn - lit(1.0))))
      ag.withColumn("mu", mu).withColumn("var", vr)
        .filter(col("var") > 0)
        .select(col("t").as("event_type"), nUp, nDn, col("n_runs"),
          round((col("n_runs") - col("mu")) / sqrt(col("var")), 4).as("z"))
        .orderBy("event_type")
    },

    // ---- #291 Theil–Sen robust trend slope --------------------------------
    // The median of all pairwise day-slopes of the daily flow — the robust
    // trend line an outlier day can't drag. The pair join runs on the
    // CELL grain (≤ |types| × days² pairs — calendar-bounded, never
    // corpus-quadratic; the same documented regime as interval_overlap's
    // aggregate form), each slope is ONE IEEE divide of exact-decimal
    // numerator by integer day gap (identical bits both engines, so
    // GROUPING BY the double is sound), and the lower median comes from
    // the mad_exact cumulative-count selection — picked, not interpolated,
    // so the output needs NO rounding clamp at all.
    "theil_sen_trend" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t, $epochDaySql AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |pr AS (
         |  SELECT a.t, CAST(b.v - a.v AS DOUBLE) / (b.d - a.d) AS slope
         |  FROM daily a JOIN daily b ON a.t = b.t AND b.d > a.d),
         |g AS (
         |  SELECT t, slope, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM pr GROUP BY 1, 2),
         |cw AS (
         |  SELECT t, slope, c,
         |    SUM(c) OVER (PARTITION BY t ORDER BY slope) AS cum,
         |    SUM(c) OVER (PARTITION BY t) AS n
         |  FROM g)
         |SELECT t AS event_type, CAST(MAX(n) AS BIGINT) AS n_pairs,
         |  MIN(slope) AS sen_slope
         |FROM cw WHERE 2 * cum >= n GROUP BY t ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      val a = daily.select(col("t"), col("d").as("da"), col("v").as("va"))
      val b = daily.select(col("t").as("tb"), col("d").as("db"),
        col("v").as("vb"))
      val pr = a.join(b, col("t") === col("tb") && col("db") > col("da"))
        .select(col("t"),
          ((col("vb") - col("va")).cast(DoubleType) / (col("db") - col("da")))
            .as("slope"))
      val g = pr.groupBy("t", "slope").agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("t").orderBy("slope")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("t")
      g.withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(wAll))
        .filter(lit(2) * col("cum") >= col("n"))
        .groupBy("t")
        .agg(max("n").cast(LongType).as("n_pairs"), min("slope").as("sen_slope"))
        .select(col("t").as("event_type"), col("n_pairs"), col("sen_slope"))
        .orderBy("event_type")
    },

    // ---- #292 Mann–Kendall trend test -------------------------------------
    // The non-parametric companion of #291: S = Σ_{i<j} sign(v_j − v_i)
    // over the daily series, tie-corrected variance, the ±1-continuity z.
    // Same bounded cell-grain pair join as #291 (sign compares exact
    // decimals — no float enters until the z chain); the tie spectrum
    // folds from a (t, v) grain count. Integers throughout; the final
    // var/18, sqrt, divide chain is identical IEEE → round(·, 4); tau is
    // S over the exact pair count.
    "mann_kendall_trend" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t, $epochDaySql AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |sgn AS (
         |  SELECT a.t,
         |    CAST(SUM(CASE WHEN b.v > a.v THEN 1
         |                  WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s,
         |    CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM daily a JOIN daily b ON a.t = b.t AND b.d > a.d
         |  GROUP BY 1),
         |nn AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY 1),
         |ties AS (
         |  SELECT t, CAST(COALESCE(SUM(tt * (tt - 1) * (2 * tt + 5)), 0)
         |    AS BIGINT) AS tcorr
         |  FROM (SELECT t, v, CAST(COUNT(*) AS BIGINT) AS tt
         |        FROM daily GROUP BY 1, 2) g
         |  WHERE tt > 1 GROUP BY 1),
         |st AS (
         |  SELECT s.t, s.s, s.n_pairs, nn.n,
         |    (nn.n * (nn.n - 1) * (2 * nn.n + 5)
         |      - COALESCE(ties.tcorr, 0)) / 18.0 AS var
         |  FROM sgn s JOIN nn ON nn.t = s.t
         |  LEFT JOIN ties ON ties.t = s.t)
         |SELECT t AS event_type, n, s, n_pairs,
         |  round(CAST(s AS DOUBLE) / n_pairs, 4) AS tau,
         |  round(CASE WHEN s > 0 THEN (s - 1) / sqrt(var)
         |             WHEN s < 0 THEN (s + 1) / sqrt(var)
         |             ELSE 0.0 END, 4) AS z
         |FROM st WHERE var > 0 ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      val a = daily.select(col("t"), col("d").as("da"), col("v").as("va"))
      val b = daily.select(col("t").as("tb"), col("d").as("db"),
        col("v").as("vb"))
      val sgn = a.join(b, col("t") === col("tb") && col("db") > col("da"))
        .groupBy("t")
        .agg(sum(when(col("vb") > col("va"), 1)
          .when(col("vb") < col("va"), -1).otherwise(0)).cast(LongType)
          .as("s"),
          count(lit(1)).cast(LongType).as("n_pairs"))
      val nn = daily.groupBy("t").agg(count(lit(1)).cast(LongType).as("n"))
      val ties = daily.groupBy("t", "v").agg(count(lit(1)).cast(LongType)
        .as("tt"))
        .filter(col("tt") > 1)
        .groupBy("t")
        .agg(coalesce(sum(col("tt") * (col("tt") - 1)
          * (lit(2) * col("tt") + 5)), lit(0L)).cast(LongType).as("tcorr"))
      val st = sgn.join(broadcast(nn), Seq("t"))
        .join(broadcast(ties), Seq("t"), "left")
        .withColumn("var",
          (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)
            - coalesce(col("tcorr"), lit(0L))) / lit(18.0))
        .filter(col("var") > 0)
      st.select(col("t").as("event_type"), col("n"), col("s"), col("n_pairs"),
        round(col("s").cast(DoubleType) / col("n_pairs"), 4).as("tau"),
        round(when(col("s") > 0, (col("s") - 1) / sqrt(col("var")))
          .when(col("s") < 0, (col("s") + 1) / sqrt(col("var")))
          .otherwise(lit(0.0)), 4).as("z"))
        .orderBy("event_type")
    },

    // ---- #289 cross-source vocabulary overlap (corpus mixing audit) -------
    // Pairwise token-vocabulary Jaccard between document sources — the
    // audit behind mixture decisions: sources with near-disjoint vocab
    // can't share a tokenizer budget; near-identical vocab hints at
    // cross-source duplication (#274's lexical shadow). The corpus
    // collapses to the DISTINCT (source, token) grain first (one exchange,
    // O(vocab × sources) rows regardless of corpus size); per-source vocab
    // sizes fold from that grain; the pair join is on TOKEN where each
    // token contributes C(sources_with_it, 2) ≤ C(|S|, 2) pairs — bounded
    // by the constant source count, so intersection counting is
    // vocab-linear. Integer counts end in ONE double divide → round(·, 6).
    "vocab_jaccard_sources" -> OpDef(
      """WITH toks AS (
        |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vt AS (SELECT source, tok FROM toks WHERE tok <> ''),
        |vs AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vocab
        |  FROM vt GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM vt a JOIN vt b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, va.n_vocab AS vocab_a, vb.n_vocab AS vocab_b,
        |  i.n_common,
        |  round(CAST(i.n_common AS DOUBLE)
        |        / (va.n_vocab + vb.n_vocab - i.n_common), 6) AS jaccard
        |FROM inter i
        |JOIN vs va ON va.source = i.src_a
        |JOIN vs vb ON vb.source = i.src_b
        |ORDER BY src_a, src_b""".stripMargin
    ) { (s, dir) =>
      val vt = Tables(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .distinct()
      val vs = vt.groupBy("source").agg(count(lit(1)).cast(LongType).as("n_vocab"))
      val a = vt.select(col("source").as("src_a"), col("tok"))
      val b = vt.select(col("source").as("src_b"), col("tok"))
      val inter = a.join(b, Seq("tok"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).cast(LongType).as("n_common"))
      inter
        .join(broadcast(vs).withColumnRenamed("source", "src_a")
          .withColumnRenamed("n_vocab", "vocab_a"), Seq("src_a"))
        .join(broadcast(vs).withColumnRenamed("source", "src_b")
          .withColumnRenamed("n_vocab", "vocab_b"), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("vocab_a"), col("vocab_b"),
          col("n_common"),
          round(col("n_common").cast(DoubleType)
            / (col("vocab_a") + col("vocab_b") - col("n_common")), 6)
            .as("jaccard"))
        .orderBy("src_a", "src_b")
    },

    // ---- #293 lead–lag cross-correlation between type pairs ---------------
    // Does one instrument's daily flow LEAD another's? Pearson corr between
    // type a's daily series and type b's series shifted by lag ∈ [−3, +3]
    // days, for every ordered pair a < b (negative lags cover b-leads-a, so
    // unordered pairs suffice). The fact table collapses to the daily cell
    // grain ONCE; the 7-lag expansion and the pair join both ride that
    // grain (join key = calendar day ⇒ ≤ |types|² matches per day — cell-
    // bounded, never corpus-quadratic). Moment sums fold as exact decimals;
    // the corr chain is one identical IEEE sequence → round(·, 4).
    "lead_lag_corr" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t, $epochDaySql AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |lags AS (SELECT unnest(range(-3, 4)) AS lag),
         |pr AS (
         |  SELECT a.t AS ta, b.t AS tb, l.lag AS lag, a.v AS x, b.v AS y
         |  FROM daily a
         |  JOIN lags l ON TRUE
         |  JOIN daily b ON b.d = a.d + l.lag AND a.t < b.t),
         |ag AS (
         |  SELECT ta, tb, lag, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
         |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
         |    CAST(SUM(y * y) AS DOUBLE) AS syy
         |  FROM pr GROUP BY 1, 2, 3),
         |v AS (
         |  SELECT ta, tb, lag, n_days,
         |    n_days * sxx - sx * sx AS dx, n_days * syy - sy * sy AS dy,
         |    n_days * sxy - sx * sy AS cxy
         |  FROM ag WHERE n_days >= 10)
         |SELECT ta AS type_a, tb AS type_b, lag, n_days,
         |  round(cxy / sqrt(dx * dy), 4) AS xcorr
         |FROM v WHERE dx > 0 AND dy > 0
         |ORDER BY type_a, type_b, lag""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      val a = daily
        .select(col("t").as("ta"), col("d"), col("v").as("x"))
        .withColumn("lag0", explode(sequence(lit(-3), lit(3))))
        .withColumn("lag", col("lag0").cast(LongType)).drop("lag0")
        .withColumn("dm", col("d") + col("lag"))
      val b = daily.select(col("t").as("tb"), col("d").as("db"),
        col("v").as("y"))
      val ag = a.join(b, col("dm") === col("db") && col("ta") < col("tb"))
        .groupBy("ta", "tb", "lag")
        .agg(count(lit(1)).cast(LongType).as("n_days"),
          sum("x").cast(DoubleType).as("sx"),
          sum("y").cast(DoubleType).as("sy"),
          sum(col("x") * col("y")).cast(DoubleType).as("sxy"),
          sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
          sum(col("y") * col("y")).cast(DoubleType).as("syy"))
        .filter(col("n_days") >= 10)
      val n = col("n_days")
      ag
        .withColumn("dx", n * col("sxx") - col("sx") * col("sx"))
        .withColumn("dy", n * col("syy") - col("sy") * col("sy"))
        .withColumn("cxy", n * col("sxy") - col("sx") * col("sy"))
        .filter(col("dx") > 0 && col("dy") > 0)
        .select(col("ta").as("type_a"), col("tb").as("type_b"), col("lag"),
          n, round(col("cxy") / sqrt(col("dx") * col("dy")), 4).as("xcorr"))
        .orderBy("type_a", "type_b", "lag")
    },

    // ---- #294 Jarque–Bera normality test on daily increments --------------
    // Are the day-over-day flow changes normal (the premise behind every
    // Gaussian risk model on this series)? JB = n/6·(g₁² + g₂²/4) over the
    // TRUE 1-day deltas (calendar gaps excluded). Deltas become exact
    // integer cents; power sums ride the skew_kurt discipline — cast to
    // wide exact types BEFORE multiplying (Spark DECIMAL(38,0) chain,
    // DuckDB HUGEINT: both exact for |k|≤1e8 cents ⇒ k⁴ ≤ 1e32) — so the
    // only float steps are the final central-moment chain → round(·, 4).
    "jarque_bera" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t, $epochDaySql AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |mv AS (
         |  SELECT t, v - lag(v) OVER w AS dv, d - lag(d) OVER w AS gap
         |  FROM daily WINDOW w AS (PARTITION BY t ORDER BY d)),
         |c AS (
         |  SELECT t, CAST(dv * 100 AS HUGEINT) AS k FROM mv
         |  WHERE gap = 1 AND abs(dv * 100) <= 100000000),
         |m AS (
         |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(k) AS DOUBLE) AS s1,
         |    CAST(SUM(k * k) AS DOUBLE) AS s2,
         |    CAST(SUM(k * k * k) AS DOUBLE) AS s3,
         |    CAST(SUM(k * k * k * k) AS DOUBLE) AS s4
         |  FROM c GROUP BY 1),
         |ct AS (
         |  SELECT t, n,
         |    s2 / n - (s1 / n) * (s1 / n) AS m2,
         |    s3 / n - 3 * (s1 / n) * (s2 / n)
         |      + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         |    s4 / n - 4 * (s1 / n) * (s3 / n)
         |      + 6 * ((s1 / n) * (s1 / n)) * (s2 / n)
         |      - 3 * (((s1 / n) * (s1 / n)) * ((s1 / n) * (s1 / n))) AS m4
         |  FROM m WHERE n >= 8),
         |g AS (
         |  SELECT t, n, m3 / (m2 * sqrt(m2)) AS g1,
         |    m4 / (m2 * m2) - 3 AS g2
         |  FROM ct WHERE m2 > 0)
         |SELECT t AS event_type, n, round(g1, 4) AS g1, round(g2, 4) AS g2,
         |  round(n / 6.0 * (g1 * g1 + g2 * g2 / 4), 4) AS jb
         |FROM g ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      val w = Window.partitionBy("t").orderBy("d")
      val c = daily
        .withColumn("dv", col("v") - lag("v", 1).over(w))
        .withColumn("gap", col("d") - lag("d", 1).over(w))
        // |k| ≤ 1e8 cents is the premise that keeps the k⁴ power sum exact
        // in both engines' wide-integer chains; the EXPLICIT shared bound
        // (r13 ADVICE fix) makes an out-of-premise delta drop identically
        // on both sides instead of Spark overflowing DECIMAL(38,0) to NULL
        // while DuckDB's HUGEINT raises — one degradation mode, not two.
        .filter(col("gap") === 1 && abs(col("dv") * 100) <= 100000000L)
        .select(col("t"),
          (col("dv") * 100).cast(DecimalType(20, 0)).as("k"))
      val m = c.groupBy("t")
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum("k").cast(DoubleType).as("s1"),
          sum(col("k") * col("k")).cast(DoubleType).as("s2"),
          sum(col("k") * col("k") * col("k")).cast(DoubleType).as("s3"),
          sum(col("k") * col("k") * col("k") * col("k"))
            .cast(DoubleType).as("s4"))
        .filter(col("n") >= 8)
      val n = col("n"); val mean = col("s1") / n
      val ct = m.select(col("t"), n,
        (col("s2") / n - mean * mean).as("m2"),
        (col("s3") / n - lit(3) * mean * (col("s2") / n)
          + lit(2) * mean * mean * mean).as("m3"),
        (col("s4") / n - lit(4) * mean * (col("s3") / n)
          + lit(6) * (mean * mean) * (col("s2") / n)
          - lit(3) * ((mean * mean) * (mean * mean))).as("m4"))
        .filter(col("m2") > 0)
      val g = ct.select(col("t"), n,
        (col("m3") / (col("m2") * sqrt(col("m2")))).as("g1"),
        (col("m4") / (col("m2") * col("m2")) - 3).as("g2"))
      g.select(col("t").as("event_type"), n,
          round(col("g1"), 4).as("g1"), round(col("g2"), 4).as("g2"),
          round(n / lit(6.0)
            * (col("g1") * col("g1") + col("g2") * col("g2") / 4), 4)
            .as("jb"))
        .orderBy("event_type")
    },

    // ---- #295 Hurst exponent via the aggregated-variance method -----------
    // Long-range dependence of the HOURLY flow: aggregate the series into
    // complete blocks of m ∈ {1,2,4,8,16} OBSERVED hours (index blocks over
    // the per-type hour rank, so calendar gaps shorten the series instead
    // of voiding every block — the estimator runs on the series as
    // sampled), Var(block sum) ∝ m^{2H}. The hour grain is load-bearing:
    // the events table spans a fixed 31-day window at every SF, so a daily
    // series tops out at 31 points and m=16 can never field the ≥4
    // complete blocks the variance needs — hourly gives ≥64 observed
    // cells per type from sf0.001 up. H falls out of a FIXED-DESIGN
    // log-log regression (the five ln m abscissae are constants, so the
    // OLS slope collapses to a closed ±2/±1/0 contrast over the five
    // ln-variances — no order-dependent float fold anywhere). One
    // cell-grain exchange builds all five block grains (the 5× expansion
    // rides |types|×|hours| cells, not the fact table); block sums are
    // exact decimals; doubles appear only in the five variance chains and
    // the final contrast → round(·, 4).
    "hurst_exponent" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t,
         |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |rk AS (
         |  SELECT t, v,
         |    row_number() OVER (PARTITION BY t ORDER BY d) - 1 AS rn
         |  FROM daily),
         |blk AS (
         |  SELECT rk.t, s.m,
         |    CAST((rn - rn % s.m) / s.m AS BIGINT) AS b,
         |    CAST(COUNT(*) AS BIGINT) AS c,
         |    CAST(SUM(v) AS DECIMAL(18,2)) AS bs
         |  FROM rk JOIN (SELECT unnest([1, 2, 4, 8, 16]) AS m) s ON TRUE
         |  GROUP BY 1, 2, 3),
         |vm AS (
         |  SELECT t, m, CAST(COUNT(*) AS BIGINT) AS nb,
         |    CAST(SUM(bs) AS DOUBLE) AS sb,
         |    CAST(SUM(bs * bs) AS DOUBLE) AS qb
         |  FROM blk WHERE c = m GROUP BY 1, 2),
         |vv AS (
         |  SELECT t, m, (qb - sb * sb / nb) / (nb - 1) AS var
         |  FROM vm WHERE nb >= 4),
         |pv AS (
         |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_scales,
         |    MAX(CASE WHEN m = 1 THEN var END) AS v1,
         |    MAX(CASE WHEN m = 2 THEN var END) AS v2,
         |    MAX(CASE WHEN m = 8 THEN var END) AS v8,
         |    MAX(CASE WHEN m = 16 THEN var END) AS v16
         |  FROM vv WHERE var > 0 GROUP BY t)
         |SELECT t AS event_type, n_scales,
         |  round((-2 * ln(v1) - ln(v2) + ln(v8) + 2 * ln(v16))
         |        / (20 * ln(2)), 4) AS hurst
         |FROM pv WHERE n_scales = 5
         |ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"),
          floor(col("ts").cast(LongType) / 3600).cast(LongType).as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      val scales = explode(array(Seq(1, 2, 4, 8, 16).map(lit): _*)).as("m")
      val rk = daily
        .withColumn("rn",
          row_number().over(Window.partitionBy("t").orderBy("d")) - 1)
      val blk = rk
        .select(col("t"), col("rn"), col("v"), scales)
        .groupBy(col("t"), col("m"),
          ((col("rn") - col("rn") % col("m")) / col("m")).cast(LongType)
            .as("b"))
        .agg(count(lit(1)).cast(LongType).as("c"),
          sum("v").cast(DecimalType(18, 2)).as("bs"))
      val vm = blk.filter(col("c") === col("m"))
        .groupBy("t", "m")
        .agg(count(lit(1)).cast(LongType).as("nb"),
          sum("bs").cast(DoubleType).as("sb"),
          sum(col("bs") * col("bs")).cast(DoubleType).as("qb"))
        .filter(col("nb") >= 4)
        .withColumn("var",
          (col("qb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1))
        .filter(col("var") > 0)
      val pv = vm.groupBy("t")
        .agg(count(lit(1)).cast(LongType).as("n_scales"),
          max(when(col("m") === 1, col("var"))).as("v1"),
          max(when(col("m") === 2, col("var"))).as("v2"),
          max(when(col("m") === 8, col("var"))).as("v8"),
          max(when(col("m") === 16, col("var"))).as("v16"))
        .filter(col("n_scales") === 5)
      pv.select(col("t").as("event_type"), col("n_scales"),
          round((lit(-2) * log(col("v1")) - log(col("v2")) + log(col("v8"))
            + lit(2) * log(col("v16"))) / (lit(20) * log(lit(2.0))), 4)
            .as("hurst"))
        .orderBy("event_type")
    },

    // ---- #296 RSI-14 on the daily flow -------------------------------------
    // The classic relative-strength index (simple 14-day form) per
    // instrument: gains/losses of TRUE 1-day deltas, summed over a
    // calendar-correct trailing window — RANGE BETWEEN 13 PRECEDING on the
    // integer day key, so calendar gaps shrink the window instead of
    // silently stretching it (a ROWS frame would). One cell-grain exchange;
    // gain/loss split and window sums stay exact decimals; RSI =
    // 100·G/(G+L) is ONE double divide → round(·, 4).
    "rsi_daily" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t, $epochDaySql AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |mv AS (
         |  SELECT t, d, v - lag(v) OVER w AS dv, d - lag(d) OVER w AS gap
         |  FROM daily WINDOW w AS (PARTITION BY t ORDER BY d)),
         |dd AS (
         |  SELECT t, d,
         |    CASE WHEN dv > 0 THEN dv ELSE CAST(0 AS DECIMAL(18,2)) END AS g,
         |    CASE WHEN dv < 0 THEN -dv ELSE CAST(0 AS DECIMAL(18,2)) END AS l
         |  FROM mv WHERE gap = 1),
         |win AS (
         |  SELECT t, d, CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
         |    SUM(g) OVER w AS sg, SUM(l) OVER w AS sl
         |  FROM dd
         |  WINDOW w AS (PARTITION BY t ORDER BY d
         |               RANGE BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT t AS event_type, d AS day, n_win,
         |  round(100.0 * CAST(sg AS DOUBLE)
         |        / (CAST(sg AS DOUBLE) + CAST(sl AS DOUBLE)), 4) AS rsi
         |FROM win WHERE n_win >= 7 AND sg + sl > 0
         |ORDER BY event_type, day""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      val w = Window.partitionBy("t").orderBy("d")
      val dd = daily
        .withColumn("dv", col("v") - lag("v", 1).over(w))
        .withColumn("gap", col("d") - lag("d", 1).over(w))
        .filter(col("gap") === 1)
        .select(col("t"), col("d"),
          when(col("dv") > 0, col("dv"))
            .otherwise(lit(0).cast(DecimalType(18, 2))).as("g"),
          when(col("dv") < 0, -col("dv"))
            .otherwise(lit(0).cast(DecimalType(18, 2))).as("l"))
      val wr = Window.partitionBy("t").orderBy("d").rangeBetween(-13, 0)
      dd
        .withColumn("n_win", count(lit(1)).over(wr).cast(LongType))
        .withColumn("sg", sum("g").over(wr))
        .withColumn("sl", sum("l").over(wr))
        .filter(col("n_win") >= 7 && col("sg") + col("sl") > 0)
        .select(col("t").as("event_type"), col("d").as("day"), col("n_win"),
          round(lit(100.0) * col("sg").cast(DoubleType)
            / (col("sg").cast(DoubleType) + col("sl").cast(DoubleType)), 4)
            .as("rsi"))
        .orderBy("event_type", "day")
    },

    // ---- #297 Bollinger-band breach audit ----------------------------------
    // How often does each instrument's daily flow escape its own trailing
    // 20-day ±2σ band? Rolling mean/σ ride ONE RANGE frame on the integer
    // day key (same cell-grain discipline as #286 — never a date self-
    // join); the band compare runs v (an exact decimal rendered to double)
    // against an identical IEEE mean±2σ chain on both engines, so the
    // breach flags are bit-deterministic; the per-type collapse is then
    // pure integer counting → one divide → round(·, 6).
    "bollinger_breach" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t, $epochDaySql AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |cells AS (SELECT t, d, v, v * v AS v2 FROM daily),
         |win AS (
         |  SELECT t, d, CAST(v AS DOUBLE) AS vd,
         |    CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
         |    CAST(SUM(v) OVER w AS DOUBLE) AS sw,
         |    CAST(SUM(v2) OVER w AS DOUBLE) AS qw
         |  FROM cells
         |  WINDOW w AS (PARTITION BY t ORDER BY d
         |               RANGE BETWEEN 19 PRECEDING AND CURRENT ROW)),
         |st AS (
         |  SELECT t, d, vd, n_win, sw / n_win AS mu,
         |    sqrt((qw - sw * sw / n_win) / (n_win - 1)) AS sd
         |  FROM win WHERE n_win >= 5),
         |fl AS (
         |  SELECT t,
         |    CASE WHEN vd > mu + 2 * sd THEN 1 ELSE 0 END AS up,
         |    CASE WHEN vd < mu - 2 * sd THEN 1 ELSE 0 END AS dn
         |  FROM st)
         |SELECT t AS event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         |  CAST(SUM(up) AS BIGINT) AS n_upper, CAST(SUM(dn) AS BIGINT) AS n_lower,
         |  round(CAST(SUM(up) + SUM(dn) AS DOUBLE) / COUNT(*), 6) AS breach_rate
         |FROM fl GROUP BY t ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
        .withColumn("v2", col("v") * col("v"))
      val wr = Window.partitionBy("t").orderBy("d").rangeBetween(-19, 0)
      val st = daily
        .withColumn("vd", col("v").cast(DoubleType))
        .withColumn("n_win", count(lit(1)).over(wr).cast(LongType))
        .withColumn("sw", sum("v").over(wr).cast(DoubleType))
        .withColumn("qw", sum("v2").over(wr).cast(DoubleType))
        .filter(col("n_win") >= 5)
        .withColumn("mu", col("sw") / col("n_win"))
        .withColumn("sd",
          sqrt((col("qw") - col("sw") * col("sw") / col("n_win"))
            / (col("n_win") - 1)))
      st
        .select(col("t"),
          when(col("vd") > col("mu") + lit(2) * col("sd"), 1).otherwise(0)
            .as("up"),
          when(col("vd") < col("mu") - lit(2) * col("sd"), 1).otherwise(0)
            .as("dn"))
        .groupBy("t")
        .agg(count(lit(1)).cast(LongType).as("n_days"),
          sum("up").cast(LongType).as("n_upper"),
          sum("dn").cast(LongType).as("n_lower"),
          round((sum("up") + sum("dn")).cast(DoubleType) / count(lit(1)), 6)
            .as("breach_rate"))
        .select(col("t").as("event_type"), col("n_days"), col("n_upper"),
          col("n_lower"), col("breach_rate"))
        .orderBy("event_type")
    },

    // ---- #298 Chow structural-break test -----------------------------------
    // Did the linear day-trend of the flow CHANGE at mid-sample? Fit
    // v = α + β·day by OLS on the full span and on the two halves split at
    // the per-type median day; F = ((SSR_p − SSR₁ − SSR₂)/2) /
    // ((SSR₁+SSR₂)/(n−4)). The median split day comes from the exact
    // cumulative-count selection on the daily grain and BROADCASTS back
    // (≤ |types| rows); both segments' regression sums fold as conditional
    // exact decimals in ONE cell-grain pass; every SSR is the same
    // closed-form IEEE chain → round(·, 4).
    "chow_break" -> OpDef(
      s"""WITH daily AS (
         |  SELECT event_type AS t, $epochDaySql AS d,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS v
         |  FROM events GROUP BY 1, 2),
         |cw AS (
         |  SELECT t, d,
         |    row_number() OVER (PARTITION BY t ORDER BY d) AS rn,
         |    COUNT(*) OVER (PARTITION BY t) AS n
         |  FROM daily),
         |sp AS (SELECT t, MIN(d) AS split_d FROM cw WHERE 2 * rn >= n GROUP BY t),
         |seg AS (
         |  SELECT daily.t, CASE WHEN d <= split_d THEN 1 ELSE 2 END AS h,
         |    d, v
         |  FROM daily JOIN sp ON sp.t = daily.t),
         |sums AS (
         |  SELECT t, h, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(d) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(d AS DECIMAL(38,0)) * d) AS DOUBLE) AS sxx,
         |    CAST(SUM(v) AS DOUBLE) AS sy,
         |    CAST(SUM(v * v) AS DOUBLE) AS syy,
         |    CAST(SUM(v * d) AS DOUBLE) AS sxy
         |  FROM seg GROUP BY 1, 2),
         |pool AS (
         |  SELECT t, CAST(SUM(n) AS BIGINT) AS n, SUM(sx) AS sx, SUM(sxx) AS sxx,
         |    SUM(sy) AS sy, SUM(syy) AS syy, SUM(sxy) AS sxy,
         |    CAST(MIN(n) AS BIGINT) AS n_min
         |  FROM sums GROUP BY t HAVING COUNT(*) = 2),
         |ssr AS (
         |  SELECT s.t, p.n, p.n_min, s.h,
         |    (s.syy - s.sy * s.sy / s.n)
         |      - (s.sxy - s.sx * s.sy / s.n) * (s.sxy - s.sx * s.sy / s.n)
         |        / (s.sxx - s.sx * s.sx / s.n) AS ssr_h,
         |    (p.syy - p.sy * p.sy / p.n)
         |      - (p.sxy - p.sx * p.sy / p.n) * (p.sxy - p.sx * p.sy / p.n)
         |        / (p.sxx - p.sx * p.sx / p.n) AS ssr_p
         |  FROM sums s JOIN pool p ON p.t = s.t
         |  WHERE s.sxx - s.sx * s.sx / s.n > 0
         |    AND p.sxx - p.sx * p.sx / p.n > 0),
         |ag AS (
         |  SELECT t, CAST(MAX(n) AS BIGINT) AS n, MAX(n_min) AS n_min,
         |    MAX(ssr_p) AS ssr_p, SUM(ssr_h) AS ssr_12,
         |    CAST(COUNT(*) AS BIGINT) AS n_seg
         |  FROM ssr GROUP BY t)
         |SELECT t AS event_type, n,
         |  round(((ssr_p - ssr_12) / 2) / (ssr_12 / (n - 4)), 4) AS f_chow
         |FROM ag
         |WHERE n_seg = 2 AND n_min >= 3 AND ssr_12 > 0
         |ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      val wRn = Window.partitionBy("t").orderBy("d")
      val wAll = Window.partitionBy("t")
      val sp = daily
        .withColumn("rn", row_number().over(wRn))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(lit(2) * col("rn") >= col("n"))
        .groupBy("t").agg(min("d").as("split_d"))
      val seg = daily.join(broadcast(sp), Seq("t"))
        .select(col("t"),
          when(col("d") <= col("split_d"), 1).otherwise(2).as("h"),
          col("d"), col("v"))
      val sums = seg.groupBy("t", "h")
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum("d").cast(DoubleType).as("sx"),
          sum(col("d").cast(DecimalType(38, 0)) * col("d"))
            .cast(DoubleType).as("sxx"),
          sum("v").cast(DoubleType).as("sy"),
          sum(col("v") * col("v")).cast(DoubleType).as("syy"),
          sum(col("v") * col("d")).cast(DoubleType).as("sxy"))
      val pool = sums.groupBy("t")
        .agg(sum("n").cast(LongType).as("n"), sum("sx").as("sx"),
          sum("sxx").as("sxx"), sum("sy").as("sy"), sum("syy").as("syy"),
          sum("sxy").as("sxy"), min("n").cast(LongType).as("n_min"),
          count(lit(1)).as("n_seg"))
        .filter(col("n_seg") === 2)
      def ssrOf(n: Column, sx: Column, sxx: Column, sy: Column, syy: Column,
                sxy: Column): Column =
        (syy - sy * sy / n) -
          (sxy - sx * sy / n) * (sxy - sx * sy / n) / (sxx - sx * sx / n)
      val ssr = sums.join(pool.select(col("t"), col("n").as("np"),
          col("sx").as("sxp"), col("sxx").as("sxxp"), col("sy").as("syp"),
          col("syy").as("syyp"), col("sxy").as("sxyp"), col("n_min")),
          Seq("t"))
        .filter(col("sxx") - col("sx") * col("sx") / col("n") > 0 &&
          col("sxxp") - col("sxp") * col("sxp") / col("np") > 0)
        .select(col("t"), col("np"), col("n_min"),
          ssrOf(col("n"), col("sx"), col("sxx"), col("sy"), col("syy"),
            col("sxy")).as("ssr_h"),
          ssrOf(col("np"), col("sxp"), col("sxxp"), col("syp"), col("syyp"),
            col("sxyp")).as("ssr_p"))
      val ag = ssr.groupBy("t")
        .agg(max("np").cast(LongType).as("n"), max("n_min").as("n_min"),
          max("ssr_p").as("ssr_p"), sum("ssr_h").as("ssr_12"),
          count(lit(1)).cast(LongType).as("n_seg"))
        .filter(col("n_seg") === 2 && col("n_min") >= 3 && col("ssr_12") > 0)
      ag.select(col("t").as("event_type"), col("n"),
          round(((col("ssr_p") - col("ssr_12")) / 2)
            / (col("ssr_12") / (col("n") - 4)), 4).as("f_chow"))
        .orderBy("event_type")
    },

    // ---- #299 distributed Poisson bootstrap CI for the mean ---------------
    // The resample-free bootstrap that actually distributes (Chamandy et
    // al., Google 2012): replicate b gives each row a Poisson(1) weight
    // drawn by inverse-CDF from a deterministic per-(row, b) draw —
    // seedless, identical on both engines. The draw is ONE portable md5
    // of event_id folded to 32 bits, then replicate b's affine mix
    // (a_b·h + b_b) mod (2^31−1) mod 10^6 (see [[BootA]]) — hashing
    // (event_id, b) directly costs 64 md5s per row and was the full-sweep
    // worst query (9.3 s at sf0.1); the mixes are codegen integer
    // arithmetic (pairwise-independent draws across replicates — the
    // standard Carter-Wegman guarantee, ample for bootstrap weights).
    // B = 64 replicate means fold in ONE exchange keyed (type, b): the
    // ×64 expansion happens map-side and partial-aggregates BEFORE the
    // shuffle, so shuffle volume is |types|·64 cells per partition, not
    // 64 scans of the fact table. CI bounds are PICKED ranked replicate
    // means (ranks 2/63 of 64 ≈ a 95% percentile interval) — selection,
    // not interpolation. Replicate means fold EXACT INTEGER CENTS on both
    // engines and share one IEEE chain (double(Σw·cents)/100.0/Σw — r13:
    // the oracle previously summed w·v in dollars-DECIMAL, bit-identical
    // only while Σw·cents ≤ 2^53; the cents spelling moves that premise
    // to 2^63, it does not remove it — Spark's Long lane would wrap
    // silently past 2^63 while DuckDB's SUM(BIGINT) promotes to HUGEINT.
    // ~9e16 cents of Poisson-weighted mass per (type, replicate) is ~1e15
    // dollars of events per type: ample at any tested SF, but a stated
    // bound like jarque_bera's, not an identity), then one round(·, 6).
    "bootstrap_mean_ci" -> OpDef(
      s"""WITH src AS (
         |  SELECT event_type, "value",
         |    ${parity.md5LongSql("CAST(event_id AS VARCHAR)")}
         |      % 4294967296 AS h
         |  FROM events),
         |reps AS (
         |  SELECT s.event_type, s."value", b.b,
         |    (${sqlLongList(BootA)}[b.b + 1] * s.h
         |     + ${sqlLongList(BootB)}[b.b + 1]) % ${BootP} % 1000000 AS r
         |  FROM src s JOIN (SELECT unnest(range(0, 64)) AS b) b ON TRUE),
         |wts AS (
         |  SELECT event_type, b,
         |    CASE WHEN r < 367879 THEN 0 WHEN r < 735759 THEN 1
         |         WHEN r < 919699 THEN 2 WHEN r < 981012 THEN 3
         |         WHEN r < 996340 THEN 4 WHEN r < 999406 THEN 5
         |         WHEN r < 999917 THEN 6 ELSE 7 END AS w,
         |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
         |  FROM reps),
         |rm AS (
         |  SELECT event_type, b,
         |    CAST(SUM(w * vc) AS DOUBLE) / 100.0 / CAST(SUM(w) AS BIGINT)
         |      AS mean_b
         |  FROM wts GROUP BY 1, 2 HAVING SUM(w) > 0),
         |rk AS (
         |  SELECT event_type, mean_b,
         |    row_number() OVER (PARTITION BY event_type
         |                       ORDER BY mean_b, b) AS rk,
         |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nb
         |  FROM rm),
         |ci AS (
         |  SELECT event_type, MAX(nb) AS n_reps,
         |    MAX(CASE WHEN rk = 2 THEN mean_b END) AS lo,
         |    MAX(CASE WHEN rk = 63 THEN mean_b END) AS hi
         |  FROM rk WHERE nb = 64 GROUP BY event_type),
         |pt AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         |      AS mean
         |  FROM events GROUP BY 1)
         |SELECT p.event_type, p.n_rows, round(p.mean, 6) AS mean,
         |  round(c.lo, 6) AS ci_lo, round(c.hi, 6) AS ci_hi
         |FROM pt p JOIN ci c ON c.event_type = p.event_type
         |ORDER BY p.event_type""".stripMargin
    ) { (s, dir) =>
      import graft.ops.parity.md5Long
      // ONE pass at fact grain: the typed aggregate draws all 64 weights
      // per row in a tight loop and folds (Σw, Σw·cents) per replicate —
      // no ×64 row expansion (the exploded form was the sf10 sweep's
      // worst query at 807 s: a 640M-row generate feeding a hash agg).
      // The point estimate folds in the SAME scan.
      val cents = (col("value").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)
      val cells = Tables(s, dir, "events")
        .select(col("event_type"),
          (md5Long(col("event_id").cast(StringType)) % 4294967296L).as("h"),
          cents.as("vc"), col("value"))
        .groupBy("event_type")
        .agg(call_function("bootstrap_cells", col("h"), col("vc")).as("arr"),
          count(lit(1)).cast(LongType).as("n_rows"),
          sum(col("value").cast(DecimalType(18, 2))).as("sv"))
        .withColumn("mean0", col("sv").cast(DoubleType) / col("n_rows"))
      // unpack the 2×64 cells on the |types|-row grain (≤ 320 rows total)
      val rm = cells
        .withColumn("b", explode(sequence(lit(0L), lit(63L))))
        .select(col("event_type"), col("n_rows"), col("mean0"), col("b"),
          element_at(col("arr"), (col("b") + 1).cast(IntegerType)).as("sw"),
          element_at(col("arr"), (col("b") + 65).cast(IntegerType))
            .as("swv"))
        .filter(col("sw") > 0)
        .withColumn("mean_b",
          col("swv").cast(DoubleType) / 100.0 / col("sw"))
      val wRk = Window.partitionBy("event_type").orderBy("mean_b", "b")
      val wNb = Window.partitionBy("event_type")
      rm
        .withColumn("rk", row_number().over(wRk))
        .withColumn("nb", count(lit(1)).over(wNb).cast(LongType))
        .filter(col("nb") === 64)
        .groupBy("event_type")
        .agg(max("n_rows").as("n_rows"), max("mean0").as("m0"),
          max(when(col("rk") === 2, col("mean_b"))).as("lo"),
          max(when(col("rk") === 63, col("mean_b"))).as("hi"))
        .select(col("event_type"), col("n_rows"),
          round(col("m0"), 6).as("mean"), round(col("lo"), 6).as("ci_lo"),
          round(col("hi"), 6).as("ci_hi"))
        .orderBy("event_type")
    },
  )
}
