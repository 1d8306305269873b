package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.OpDef
import graft.sources.Tables
import parity._

/** SURVEY §2.2 #262–#265 — ledger / market analytics over the event stream.
  *
  * The reference is a sink that lands substreams-decoded ledger events into
  * ClickHouse (reference `README.md`, `sinker/sinker.go:40-98`); what its
  * users then RUN against the synced store is exactly this family: OHLC
  * candlestick bars, volume-weighted average price, per-account running
  * balances reconstructed from signed deltas, and hour-over-hour volume
  * movers. Re-expressed Spark-first on the `events` table (`value` as the
  * traded amount, json `props.k` as the size weight, `event_type` as the
  * instrument/market key).
  *
  * Parity discipline (SURVEY §5): every accumulated amount goes through an
  * exact DECIMAL(18,2) fold ([[parity.sumDec2]]); open/high/low/close are
  * picked (not accumulated) raw doubles; ratios are a single IEEE divide →
  * `round(·, 6)`; time buckets are integer epoch-seconds of the truncated
  * hour, exact in both engines.
  */
object LedgerShapes {

  /** Epoch-seconds of the containing hour, as BIGINT (Spark side). */
  private def barHour(c: org.apache.spark.sql.Column) =
    unix_timestamp(date_trunc("hour", c)).cast(LongType)

  /** DuckDB spelling of [[barHour]]. */
  private val barHourSql = "CAST(epoch(date_trunc('hour', ts)) AS BIGINT)"

  val defs: Map[String, OpDef] = Map(
    // ---- #262 OHLC candlestick bars ---------------------------------------
    // Hourly bar per instrument: open/close picked by the unique, monotone
    // event_id (deterministic under ts ties), high/low as raw min/max,
    // volume as the exact decimal fold. ONE shuffle on the (type, hour)
    // grain with map-side partial aggregation — min_by/max_by/min/max/sum
    // are all declarative codegen'd aggs, so the 100-TB plan is a single
    // partial→final exchange over ~|types|×|hours| cells regardless of
    // event count.
    "ohlc_bars" -> OpDef(
      s"""SELECT event_type, $barHourSql AS bar_hour,
         |  arg_min("value", event_id) AS open,
         |  max("value") AS high,
         |  min("value") AS low,
         |  arg_max("value", event_id) AS close,
         |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS volume,
         |  CAST(COUNT(*) AS BIGINT) AS n_trades
         |FROM events
         |GROUP BY 1, 2 ORDER BY event_type, bar_hour""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("event_type"), barHour(col("ts")).as("bar_hour"))
        .agg(
          min_by(col("value"), col("event_id")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("event_id")).as("close"),
          sumDec2(col("value")).as("volume"),
          count(lit(1)).cast(LongType).as("n_trades"))
        .orderBy("event_type", "bar_hour")
    },

    // ---- #263 volume-weighted average price -------------------------------
    // VWAP per (instrument, hour) with json size weights: numerator
    // Σ value·k folds as DECIMAL (2-dp price × integer size is exact in
    // scale 2), denominator Σk as BIGINT. The 6-dp rounding happens in
    // PURE INTEGER arithmetic — v6 = ⌊(2·num·10⁶ + den) / (2·den)⌋ is
    // half-up rounding of num/den in micro-units — because round(double,6)
    // diverges across engines exactly on this op's inputs: cents × integer
    // weights make num/den a terminating decimal, so 6-dp MIDPOINTS are
    // common and the engines' double-round tie behavior differs. The only
    // IEEE step is the final exact v6/10⁶ (v6 < 2⁵³). Zero-weight bars
    // (all k = 0) are dropped — a VWAP there is 0/0. Same single-exchange
    // grain collapse as #262; the json probe is a codegen'd
    // get_json_object in the map side of the partial agg, so the raw
    // props string never shuffles.
    "vwap_hourly" -> OpDef(
      s"""WITH g AS (
         |  SELECT event_type, $barHourSql AS bar_hour,
         |    SUM(CAST("value" AS DECIMAL(18,2))
         |        * CAST(CAST(json_extract_string(props, '$$.k') AS BIGINT)
         |               AS DECIMAL(18,0))) AS num,
         |    CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT))
         |      AS BIGINT) AS w_total,
         |    CAST(COUNT(*) AS BIGINT) AS n_trades
         |  FROM events GROUP BY 1, 2),
         |v AS (
         |  SELECT event_type, bar_hour, w_total, n_trades,
         |    (2 * CAST(num * 1000000 AS BIGINT) + w_total)
         |      // (2 * w_total) AS v6
         |  FROM g WHERE w_total > 0)
         |SELECT event_type, bar_hour,
         |  CAST(v6 AS DOUBLE) / 1000000 AS vwap, w_total, n_trades
         |FROM v ORDER BY event_type, bar_hour""".stripMargin
    ) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      Tables(s, dir, "events")
        .groupBy(col("event_type"), barHour(col("ts")).as("bar_hour"))
        .agg(
          sum(col("value").cast(DecimalType(18, 2))
            * k.cast(DecimalType(18, 0))).as("num"),
          sum(k).cast(LongType).as("w_total"),
          count(lit(1)).cast(LongType).as("n_trades"))
        .filter(col("w_total") > 0)
        .withColumn("v6",
          expr("(2 * CAST(num * 1000000 AS BIGINT) + w_total)" +
            " div (2 * w_total)"))
        .select(col("event_type"), col("bar_hour"),
          (col("v6").cast(DoubleType) / lit(1000000d)).as("vwap"),
          col("w_total"), col("n_trades"))
        .orderBy("event_type", "bar_hour")
    },

    // ---- #264 running balance reconstruction ------------------------------
    // The sink's core read-side promise: replay an account's signed deltas
    // in ledger order and know its balance trajectory. Credits = purchase/
    // signup inflows, debits = everything else; the running sum folds in
    // DECIMAL(18,2) inside ONE user_id window (single hash exchange), and
    // the per-user collapse (final via max_by on the monotone event_id,
    // low/high water marks, tx count) GROUPS ON THE SAME KEY the window
    // partitioned on — Catalyst reuses the exchange, so the whole op is
    // one shuffle end-to-end at any scale.
    "balance_running" -> OpDef(
      """WITH led AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |         THEN CAST("value" AS DECIMAL(18,2))
        |         ELSE -CAST("value" AS DECIMAL(18,2)) END AS amt
        |  FROM events),
        |run AS (
        |  SELECT user_id, event_id,
        |    SUM(amt) OVER (PARTITION BY user_id ORDER BY event_id
        |                   ROWS UNBOUNDED PRECEDING) AS bal
        |  FROM led)
        |SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_tx,
        |  CAST(arg_max(bal, event_id) AS DOUBLE) AS final_balance,
        |  CAST(MIN(bal) AS DOUBLE) AS min_balance,
        |  CAST(MAX(bal) AS DOUBLE) AS max_balance
        |FROM run GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val amt = when(col("event_type").isin("purchase", "signup"),
        col("value").cast(DecimalType(18, 2)))
        .otherwise(-col("value").cast(DecimalType(18, 2)))
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), amt.as("amt"))
        .withColumn("bal", sum("amt").over(w))
        .groupBy("user_id")
        .agg(
          count(lit(1)).cast(LongType).as("n_tx"),
          max_by(col("bal"), col("event_id")).cast(DoubleType)
            .as("final_balance"),
          min("bal").cast(DoubleType).as("min_balance"),
          max("bal").cast(DoubleType).as("max_balance"))
        .orderBy("user_id")
    },

    // ---- #272 maximum drawdown of the running balance ---------------------
    // The risk read-out on top of #264's replay: per account, the largest
    // peak-to-trough fall of the balance trajectory (max over t of
    // running-peak − balance). Same single user_id exchange as #264 — the
    // running sum, the running peak (a second window pass on the SAME
    // partitioning+ordering, no new shuffle), and the per-user collapse all
    // ride one hash distribution. Everything folds in DECIMAL(18,2); the
    // doubles appear only at output, so the max is picked exactly.
    "drawdown_max" -> OpDef(
      """WITH led AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |         THEN CAST("value" AS DECIMAL(18,2))
        |         ELSE -CAST("value" AS DECIMAL(18,2)) END AS amt
        |  FROM events),
        |run AS (
        |  SELECT user_id, event_id,
        |    SUM(amt) OVER (PARTITION BY user_id ORDER BY event_id
        |                   ROWS UNBOUNDED PRECEDING) AS bal
        |  FROM led),
        |pk AS (
        |  SELECT user_id, event_id, bal,
        |    MAX(bal) OVER (PARTITION BY user_id ORDER BY event_id
        |                   ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM run)
        |SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_tx,
        |  CAST(MAX(peak - bal) AS DOUBLE) AS max_drawdown,
        |  CAST(MAX(bal) AS DOUBLE) AS peak_balance,
        |  CAST(arg_max(bal, event_id) AS DOUBLE) AS final_balance
        |FROM pk GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val amt = when(col("event_type").isin("purchase", "signup"),
        col("value").cast(DecimalType(18, 2)))
        .otherwise(-col("value").cast(DecimalType(18, 2)))
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), amt.as("amt"))
        .withColumn("bal", sum("amt").over(w))
        .withColumn("peak", max("bal").over(w))
        .groupBy("user_id")
        .agg(
          count(lit(1)).cast(LongType).as("n_tx"),
          max(col("peak") - col("bal")).cast(DoubleType).as("max_drawdown"),
          max("bal").cast(DoubleType).as("peak_balance"),
          max_by(col("bal"), col("event_id")).cast(DoubleType)
            .as("final_balance"))
        .orderBy("user_id")
    },

    // ---- #265 hour-over-hour top movers -----------------------------------
    // The monitoring query over #262's bars: which (instrument, hour) cells
    // moved the most volume vs their previous bar. The event-count grain
    // collapses FIRST (exact decimal volumes, one exchange); lag and the
    // delta then run on the ≤ |types|×|hours| cell grain, and the top-20
    // pick is TakeOrderedAndProject (no global sort materializes). Delta
    // stays in DECIMAL until output, so the |Δ| ranking is exact; ties
    // break (type, hour) for a total order.
    "top_movers" -> OpDef(
      s"""WITH g AS (
         |  SELECT event_type, $barHourSql AS bar_hour,
         |    SUM(CAST("value" AS DECIMAL(18,2))) AS vol
         |  FROM events GROUP BY 1, 2),
         |d AS (
         |  SELECT event_type, bar_hour, vol,
         |    lag(vol) OVER (PARTITION BY event_type ORDER BY bar_hour)
         |      AS prev_vol
         |  FROM g)
         |SELECT event_type, bar_hour,
         |  CAST(vol AS DOUBLE) AS volume,
         |  CAST(prev_vol AS DOUBLE) AS prev_volume,
         |  CAST(vol - prev_vol AS DOUBLE) AS delta
         |FROM d WHERE prev_vol IS NOT NULL
         |ORDER BY abs(vol - prev_vol) DESC, event_type, bar_hour
         |LIMIT 20""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .groupBy(col("event_type"), barHour(col("ts")).as("bar_hour"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("vol"))
      val w = Window.partitionBy("event_type").orderBy("bar_hour")
      g.withColumn("prev_vol", lag("vol", 1).over(w))
        .filter(col("prev_vol").isNotNull)
        .orderBy(abs(col("vol") - col("prev_vol")).desc, col("event_type"),
          col("bar_hour"))
        .limit(20)
        .select(col("event_type"), col("bar_hour"),
          col("vol").cast(DoubleType).as("volume"),
          col("prev_vol").cast(DoubleType).as("prev_volume"),
          (col("vol") - col("prev_vol")).cast(DoubleType).as("delta"))
    }
  )
}
