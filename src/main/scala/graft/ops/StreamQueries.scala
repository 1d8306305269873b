package graft.ops

import graft.OpDef
import graft.cdc.ChangeLoader
import graft.sources.{Changes, Tables}
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Oracle-checked BATCH shapes of the streaming layer (SURVEY §2.4 + §2.1
  * #7): Structured Streaming transforms are plain DataFrame functions, so
  * the exact code that runs incrementally on a stream is verified here
  * against DuckDB on the static `events` table. The streaming-only behavior
  * (watermarks, state, exactly-once sink) is covered by ScalaTest specs.
  */
object StreamQueries {

  private def withCh(body: String): String =
    s"WITH ch AS (\n${Changes.changesSql}\n)\n$body"

  val defs: Map[String, OpDef] = Map(
    // ---- #42 tumbling-window aggregation ---------------------------------
    "stream_window_counts" -> OpDef(
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) => StreamOps.windowedCounts(Tables(s, dir, "events")).orderBy("day", "event_type") },

    // ---- #43 gap-based sessionization ------------------------------------
    // session_window(gap=4h) ≡ gaps-and-islands: a new session starts when
    // the gap from the previous event is ≥ 4h; session end = last ts + gap.
    "stream_sessionize" -> OpDef(
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  date_diff('second', MIN(ts), MAX(ts)) + 14400 AS duration_s,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
    ) { (s, dir) => StreamOps.sessionize(Tables(s, dir, "events")).orderBy("user_id", "session_start") },

    // ---- #62 windowed distinct users (exact, streaming-capable) ----------
    "stream_uniq" -> OpDef(
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  COUNT(DISTINCT user_id) AS uniq_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) => StreamOps.windowedUniques(Tables(s, dir, "events")).orderBy("day", "event_type") },

    // ---- #177 windowed fixed-probe CDF counters --------------------------
    // Live SLO-threshold monitoring (share of values ≤ X per window)
    // without a quantile sketch: all five probe counters ride ONE
    // watermarked windowed aggregate — exact, trivially incremental.
    "stream_cdf" -> OpDef(
      """WITH f AS (
        |  SELECT date_trunc('day', ts) AS d, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events)
        |SELECT strftime(d, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n,
        |  CAST(COUNT(CASE WHEN c <= 1000 THEN 1 END) AS BIGINT) AS le_1000,
        |  CAST(COUNT(CASE WHEN c <= 2500 THEN 1 END) AS BIGINT) AS le_2500,
        |  CAST(COUNT(CASE WHEN c <= 5000 THEN 1 END) AS BIGINT) AS le_5000,
        |  CAST(COUNT(CASE WHEN c <= 7500 THEN 1 END) AS BIGINT) AS le_7500,
        |  CAST(COUNT(CASE WHEN c <= 9000 THEN 1 END) AS BIGINT) AS le_9000
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) => StreamOps.windowedCdf(Tables(s, dir, "events")).orderBy("day", "event_type") },

    // ---- #221 windowed z-score anomaly vs a fixed baseline ---------------
    // The live twin of anomaly_zscore (#156), stream_psi-shaped: per
    // closed (day, type) window the exact cents total z-scored against a
    // per-type baseline (mean, std of daily totals) — a types-sized
    // bounded-metadata collect here, precomputed offline in a real
    // deployment. All double steps (mean, std, z) are single IEEE chains
    // over exact integers, identical on both engines → round(·,4).
    "stream_anomaly" -> OpDef(
      """WITH f AS (
        |  SELECT date_trunc('day', ts) AS d, event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (SELECT t, d, CAST(SUM(c) AS BIGINT) AS s,
        |        CAST(COUNT(*) AS BIGINT) AS n
        |      FROM f GROUP BY 1, 2),
        |b AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(s) AS BIGINT) AS sw,
        |    CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE) AS sww
        |  FROM g GROUP BY 1)
        |SELECT strftime(g.d, '%Y-%m-%d') AS day, g.t AS event_type, g.n, g.s,
        |  round(CASE WHEN b.k > 1
        |      AND b.sww - CAST(b.sw AS DOUBLE) * b.sw / b.k > 0 THEN
        |    (g.s - CAST(b.sw AS DOUBLE) / b.k)
        |    / sqrt((b.sww - CAST(b.sw AS DOUBLE) * b.sw / b.k) / (b.k - 1))
        |    END, 4) AS z
        |FROM g JOIN b USING (t) ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val e = Tables(s, dir, "events")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      // per-type baseline off the bounded (type, day) grain — the
      // stream_psi bounded-metadata discipline
      val g = e.select(to_date(col("ts")).as("d"), col("event_type").as("t"),
          cents.as("c"))
        .groupBy("t", "d").agg(sum("c").cast("long").as("s"))
        .select("t", "s")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val baseline = g.groupBy(_._1).map { case (t, rows) =>
        val k = rows.length
        val sw = rows.map(x => BigInt(x._2)).sum
        val sww = rows.map(x => BigInt(x._2) * BigInt(x._2)).sum.toDouble
        val swD = sw.toDouble
        val mean = swD / k
        val varN = sww - swD * swD / k
        val std = if (k > 1 && varN > 0) math.sqrt(varN / (k - 1)) else 0.0
        (t, mean, std)
      }.toSeq
      StreamOps.windowedAnomaly(e, baseline).orderBy("day", "event_type")
    },

    // ---- #202 windowed PSI drift vs a fixed baseline ---------------------
    // The live twin of psi_drift (#146): per-day PSI against the corpus
    // decile marginal as the broadcast baseline. The baseline is a 10-row
    // bounded-metadata collect (the ANN-centroid discipline) — in a real
    // deployment it arrives precomputed with the job; the oracle re-derives
    // it from the same table. Ten-term ln fold → round(·,4) clamp.
    "stream_psi" -> OpDef(
      """WITH f AS (
        |  SELECT date_trunc('day', ts) AS d,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) // 10 AS b
        |  FROM events),
        |base AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb FROM f GROUP BY 1),
        |bt AS (SELECT CAST(SUM(nb) AS BIGINT) AS t FROM base),
        |cur AS (SELECT d, b, CAST(COUNT(*) AS BIGINT) AS n FROM f GROUP BY 1, 2),
        |ct AS (SELECT d, CAST(SUM(n) AS BIGINT) AS nd FROM cur GROUP BY 1)
        |SELECT strftime(ct.d, '%Y-%m-%d') AS day, ct.nd AS n,
        |  round(SUM((CAST(cur.n AS DOUBLE) / ct.nd - CAST(base.nb AS DOUBLE) / bt.t)
        |    * ln((CAST(cur.n AS DOUBLE) / ct.nd)
        |        / (CAST(base.nb AS DOUBLE) / bt.t))), 4) AS psi
        |FROM cur JOIN base USING (b) JOIN ct ON cur.d = ct.d CROSS JOIN bt
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val e = Tables(s, dir, "events")
      val b = graft.ops.parity.floorDiv(
        get_json_object(col("props"), "$.k").cast("long"), 10)
      // 10-row baseline histogram (bounded metadata): decile → share
      val counts = e.select(b.as("b")).groupBy("b").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val total = counts.values.sum
      val shares = (0 until 10).map(i =>
        counts.getOrElse(i.toLong, 0L).toDouble / total)
      StreamOps.windowedPsi(e, shares).orderBy("day")
    },

    // ---- #249 stateful dwell-time stream ---------------------------------
    // The live twin of dwell_time_by_type (#239) at the (day, type) grain:
    // per-user custom state (flatMapGroupsWithState holding ONE cell — the
    // latest event) emits each event's gap to its successor; the batch
    // shape here is the identical lead window, pinned ≡ the stateful
    // emission by the streaming spec. Integer µs end to end.
    "stream_dwell" -> OpDef(
      """WITH e AS (
        |  SELECT user_id, event_type, ts, epoch_us(ts) AS us, event_id
        |  FROM events),
        |d AS (
        |  SELECT event_type,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
        |      AS dwell_us
        |  FROM e)
        |SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n_dwells,
        |  CAST(SUM(dwell_us) // 1000000 AS BIGINT) AS total_s,
        |  round(CAST(SUM(dwell_us) AS DOUBLE) / COUNT(*) / 1000000, 4)
        |    AS avg_s
        |FROM d
        |WHERE dwell_us IS NOT NULL AND dwell_us <= 1800 * 1000000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      StreamOps.windowedDwell(Tables(s, dir, "events")).orderBy("day", "event_type")
    },

    // ---- #66 windowed heavy hitters (streaming-capable topK) -------------
    // Exact at test SF (capacity > distinct users/group), ties broken by
    // user string ascending on both engines. The streaming transform keeps
    // its array shape (callers consume it typed); the batch query joins it
    // with "," so the output is scalar-hashable by any comparator.
    "stream_topk" -> OpDef(
      """WITH c AS (
        |  SELECT date_trunc('day', ts) AS d, event_type,
        |    CAST(user_id AS VARCHAR) AS u, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT d, event_type, u,
        |    ROW_NUMBER() OVER (PARTITION BY d, event_type
        |                       ORDER BY n DESC, u) AS rn
        |  FROM c)
        |SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
        |  string_agg(u, ',' ORDER BY rn) AS top_users
        |FROM r WHERE rn <= 3
        |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin
    ) { (s, dir) =>
      StreamOps.windowedTopK(Tables(s, dir, "events"))
        .withColumn("top_users", concat_ws(",", col("top_users")))
        .orderBy("day", "event_type")
    },

    // ---- #84 windowed approx quantiles (streaming-capable sketch) --------
    // Rows-only like #58: sketch values are merge-order-dependent; BOTH
    // regimes are rank-error pinned (StreamOpsStreamingSpec) — the
    // streaming path against an in-memory feed, and the BATCH shape the
    // driver runs against the exact order statistics of the same parquet
    // rows (r14: the #58-style pin this row previously lacked).
    "stream_quantiles" -> OpDef.rowsOnly { (s, dir) =>
      StreamOps.windowedQuantiles(Tables(s, dir, "events")).orderBy("day", "event_type")
    },

    // ---- #310 windowed KMV distinct sketches (streaming uniqTheta) --------
    // Exact regime at the gate SFs (distinct users per (day, type) ≤ the
    // per-type KmvCap pin) makes the oracle a plain COUNT(DISTINCT) of
    // the same 60-bit hash domain; the streaming spec pins stream ≡ batch.
    "stream_uniq_theta" -> OpDef(
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  CAST(COUNT(DISTINCT
        |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT)
        |    AS BIGINT) AS n_uniq
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      StreamOps.windowedUniqTheta(Tables(s, dir, "events")).orderBy("day", "event_type")
    },

    // #317 — the EXACT bitmap twin of stream_uniq_theta: per-(1-day
    // window, type) compressed-bitmap distinct cells (BitmapAgg state,
    // ≤2 bytes/member, loss-free merge across micro-batches). No hash
    // domain and no capacity regime — the oracle is raw COUNT(DISTINCT)
    // at any SF; stream ≡ batch pinned by StreamOpsStreamingSpec.
    "stream_bitmap_uniq" -> OpDef(
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_uniq
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      StreamOps.windowedBitmapUniq(Tables(s, dir, "events")).orderBy("day", "event_type")
    },

    // ---- #106 hopping (sliding) windowed counts --------------------------
    // 1-day windows every 12 h: each event lands in exactly two windows.
    // The oracle derives the same two window starts from the 12 h epoch
    // grid (Spark's window() aligns slides to the epoch origin in UTC).
    "stream_hop" -> OpDef(
      """WITH s AS (
        |  SELECT event_type,
        |    to_timestamp(CAST(floor(epoch(ts) / 43200) * 43200 AS BIGINT)) AS w0
        |  FROM events),
        |u AS (
        |  SELECT event_type, unnest([w0, w0 - INTERVAL 12 HOUR]) AS wstart FROM s)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |  COUNT(*) AS n
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      StreamOps.hoppingCounts(Tables(s, dir, "events")).orderBy("window_start", "event_type")
    },

    // ---- #107 stream-stream interval join (batch shape) ------------------
    // Clicks paired with the same user's purchases within the following
    // hour, collapsed per user. The streaming form is the watermarked
    // event-time-range join (state evicts at watermark − range) — the spec
    // pins stream ≡ batch pair sets; this row pins the pairing itself.
    "stream_join" -> OpDef(
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, COUNT(*) AS n_pairs,
        |  CAST(MIN(date_diff('second', c.ts, p.ts)) AS BIGINT) AS min_lag_s
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      StreamOps.clickPurchasePairs(Tables(s, dir, "events"))
        .groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          min(unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts")))
            .as("min_lag_s"))
        .orderBy("user_id")
    },

    // ---- #44 stream dedup (batch shape: keep-first per key) --------------
    "stream_dedup" -> OpDef(
      """SELECT user_id, event_type, MIN(event_id) AS event_id
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) => StreamOps.dedupStream(Tables(s, dir, "events")).orderBy("user_id", "event_type") },

    // ---- #266 live OHLC candlestick bars (batch shape) -------------------
    // The streaming twin of #262: the same windowed aggregate that keeps
    // live hourly candles warm over the ingested ledger, verified here in
    // batch mode against the identical grain. min_by/max_by on event_id
    // make open/close ARRIVAL-ORDER independent, so stream ≡ batch exactly
    // (StreamOpsStreamingSpec pins the replay).
    "stream_ohlc" -> OpDef(
      """SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
        |    AS bar_hour,
        |  arg_min("value", event_id) AS open,
        |  max("value") AS high,
        |  min("value") AS low,
        |  arg_max("value", event_id) AS close,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS volume,
        |  CAST(COUNT(*) AS BIGINT) AS n_trades
        |FROM events
        |GROUP BY 1, 2 ORDER BY event_type, bar_hour""".stripMargin
    ) { (s, dir) =>
      StreamOps.ohlcBars(Tables(s, dir, "events")).orderBy("event_type", "bar_hour")
    },

    // ---- #276 live hourly VWAP (batch shape) -----------------------------
    // The streaming twin of #263: the same windowed aggregate that keeps a
    // live volume-weighted price per instrument warm. Only the ADDITIVE
    // partials (decimal Σ value·k, Σk) live in state — arrival-order
    // independent, so stream ≡ batch exactly — and the #263 integer
    // micro-unit rounding runs as a projection on closed windows
    // (StreamOpsStreamingSpec pins the shuffled replay).
    "stream_vwap" -> OpDef(
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bar_hour,
        |    CAST(SUM(CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT)
        |        * CAST(json_extract_string(props, '$.k') AS BIGINT))
        |      AS HUGEINT) AS num_c,
        |    CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |      AS BIGINT) AS w_total,
        |    CAST(COUNT(*) AS BIGINT) AS n_trades
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, bar_hour, w_total, n_trades,
        |    (2 * num_c * 10000 + w_total) // (2 * w_total) AS v6
        |  FROM g WHERE w_total > 0)
        |SELECT event_type, bar_hour,
        |  CAST(v6 AS DOUBLE) / 1000000 AS vwap, w_total, n_trades
        |FROM v ORDER BY event_type, bar_hour""".stripMargin
    ) { (s, dir) =>
      StreamOps.vwapBars(Tables(s, dir, "events")).orderBy("event_type", "bar_hour")
    },

    // ---- #285 live windowed correlation (batch shape) ---------------------
    // The streaming face of corr_reagg (#284): the six additive corr
    // partials ride ONE watermarked 1-day tumbling-window aggregate
    // (decimal-exact, arrival-order independent → stream ≡ batch
    // bit-for-bit), the #94 IEEE chain runs as a projection on closed
    // windows, and zero-variance windows drop under an identical double
    // predicate on both engines. StreamOpsStreamingSpec pins closed
    // windows ≡ batch on a shuffled 2-batch replay.
    "stream_corr" -> OpDef(
      """WITH st AS (
        |  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sx,
        |    CAST(SUM(CAST(json_extract_string(props, 'k') AS BIGINT))
        |      AS BIGINT) AS sy,
        |    SUM(CAST(value AS DECIMAL(18,2))
        |        * CAST(json_extract_string(props, 'k') AS BIGINT)) AS sxy,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |      AS sxx,
        |    CAST(SUM(CAST(json_extract_string(props, 'k') AS BIGINT)
        |             * CAST(json_extract_string(props, 'k') AS BIGINT))
        |      AS BIGINT) AS syy
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, day, CAST(n AS BIGINT) AS n,
        |    CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
        |    CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
        |    CAST(syy AS DOUBLE) AS syy
        |  FROM st)
        |SELECT event_type, day, n,
        |  (n * sxy - sx * sy)
        |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_xy
        |FROM m
        |WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |ORDER BY event_type, day""".stripMargin
    ) { (s, dir) =>
      StreamOps.corrBars(Tables(s, dir, "events")).orderBy("event_type", "day")
    },

    // ---- #278 live per-account balances (batch shape) --------------------
    // The stateful streaming twin of #264: four integer-cent scalars per
    // account (mapGroupsWithState), each batch slice folded in event_id
    // order, snapshot emitted per touched account. The batch shape here is
    // the SAME integer-cent fold (so stream ≡ batch is exact equality —
    // StreamOpsStreamingSpec pins the ordered 2-batch replay and in-batch
    // shuffle invariance); the oracle is #264's decimal derivation, which
    // the cent fold reproduces bit-for-bit.
    "stream_balance" -> OpDef(
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
      StreamOps.balanceLive(Tables(s, dir, "events")).orderBy("user_id")
    },

    // ---- #327 live per-user deltaSum (batch shape) ------------------------
    // The streaming twin of delta_sum_timestamp (#324): CH's
    // deltaSumTimestamp carries timestamps precisely so states merge in
    // time order — live, that is the ordered-replay contract plus an
    // in-batch (ts, event_id) sort. Three integer-cent scalars per user
    // (count, last value, positive-delta acc); the cross-batch boundary
    // delta falls out of keeping `last`. Stream ≡ batch exact equality
    // (same cent fold both sides — StreamOpsStreamingSpec replay).
    "stream_delta_sum" -> OpDef(
      """WITH d AS (
        |  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(value AS DECIMAL(18,2)) - lag(CAST(value AS DECIMAL(18,2)))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dv,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rl
        |  FROM events)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_tx,
        |  CAST(COALESCE(SUM(CASE WHEN dv > 0 THEN dv END), 0) AS DOUBLE)
        |    AS delta_sum,
        |  CAST(MAX(CASE WHEN rl = 1 THEN v END) AS DOUBLE) AS last_value
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      StreamOps.deltaSumLive(Tables(s, dir, "events")).orderBy("user_id")
    },

    // ---- #281 live per-account max drawdown (batch shape) ----------------
    // The stateful streaming twin of #272 — the risk monitor next to
    // #278's balance view. Peak and max-fall are prefix-incremental, so
    // four cent scalars per account suffice; same ordered-replay contract
    // and exact stream ≡ batch equality (cent fold both sides).
    "stream_drawdown" -> OpDef(
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
      StreamOps.drawdownLive(Tables(s, dir, "events")).orderBy("user_id")
    },

    // ---- #304 live Bollinger band breach alerts (batch shape) -------------
    // The CAUSAL streaming twin of #297: a day's flow judged against the
    // mean ± 2σ band of the PRIOR ≤20 CLOSED days, emitted exactly once —
    // when the next day's first arrival closes it (the final open day never
    // emits; the batch shape excludes each type's max day to match). State
    // = one open cell + ≤20 closed cells of exact integer cents per
    // instrument. Every sum is exact (BIGINT cents, HUGEINT/DECIMAL(38,0)
    // squares) and converts to double ONCE; output carries only integers
    // and the exact 2-dp flow — no rounded float columns at all.
    "stream_bollinger" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (SELECT t, d, CAST(SUM(c) AS BIGINT) AS vc FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT t, d, vc,
        |    CAST(COUNT(*) OVER pw AS BIGINT) AS n_win,
        |    CAST(SUM(vc) OVER pw AS DOUBLE) / 100 AS sw,
        |    CAST(SUM(CAST(vc AS HUGEINT) * vc) OVER pw AS DOUBLE) / 10000 AS qw,
        |    MAX(d) OVER (PARTITION BY t) AS dmax
        |  FROM g
        |  WINDOW pw AS (PARTITION BY t ORDER BY d
        |                RANGE BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |s AS (
        |  SELECT t, d, CAST(vc AS DOUBLE) / 100 AS vd, n_win,
        |    sw / n_win AS mu,
        |    sqrt((qw - sw * sw / n_win) / (n_win - 1)) AS sd
        |  FROM w WHERE n_win >= 5 AND d < dmax)
        |SELECT t AS event_type, d AS day, n_win, vd AS flow,
        |  CAST(CASE WHEN vd > mu + 2 * sd THEN 1
        |            WHEN vd < mu - 2 * sd THEN -1 ELSE 0 END AS BIGINT)
        |    AS breach
        |FROM s ORDER BY event_type, day""".stripMargin
    ) { (s, dir) =>
      StreamOps.bollingerLive(Tables(s, dir, "events")).orderBy("event_type", "day")
    },

    // ---- #282 live conversion funnel (batch shape) -----------------------
    // The per-user-grain streaming twin of #67 (CH windowFunnel, kept live):
    // three µs timestamps of state per user, each batch slice folded
    // greedily in (ts, event_id) order — exactly the batch definition's
    // nested earliest-qualifying MINs under ordered replay. Oracle = the
    // #67 derivation read out per user instead of histogrammed.
    "stream_funnel" -> OpDef(
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
        |SELECT user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS level
        |FROM u ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      StreamOps.funnelLive(Tables(s, dir, "events")).orderBy("user_id")
    },

    // ---- #260 streaming simhash near-dup screen (batch shape) ------------
    // The CONTENT twin of #44's key dedup and the streaming twin of #32b:
    // docs arrive in order, each probes a per-(band,bucket) index of the
    // first `cap` earlier signatures (flatMapGroupsWithState — the literal
    // streaming operator runs here in batch mode, state fresh per key), and
    // reports its earliest hamming≤2 neighbor or (-1,-1). First-cap is the
    // streaming-realizable hot-bucket guard (see StreamDedup scaladoc: the
    // batch QUALIFY-cap is retroactive, a stream can't un-emit). Oracle:
    // the same pigeonhole candidates with e.rn ≤ cap playing the index.
    "stream_simhash_dedup" -> OpDef(
      s"""WITH t AS (
        |  SELECT doc_id,
        |    list_transform(list_distinct(string_split(text, ' ')),
        |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS th
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 59), i ->
        |      CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
        |           THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sig
        |  FROM t),
        |bands AS (
        |  SELECT doc_id, sig, b, (sig >> (b * 20)) & 1048575 AS bkey,
        |    row_number() OVER (PARTITION BY b, (sig >> (b * 20)) & 1048575
        |                       ORDER BY doc_id) AS rn
        |  FROM s, (SELECT unnest(generate_series(0, 2)) AS b)),
        |cand AS (
        |  SELECT d.doc_id AS did, e.doc_id AS eid,
        |    bit_count(xor(d.sig, e.sig)) AS ham
        |  FROM bands d JOIN bands e ON d.b = e.b AND d.bkey = e.bkey
        |   AND e.doc_id < d.doc_id AND e.rn <= ${graft.dedup.Dedup.LshBucketCap}
        |  WHERE bit_count(xor(d.sig, e.sig)) <= 2),
        |m AS (
        |  SELECT did, CAST(MIN(eid) AS BIGINT) AS dup_of,
        |    CAST(arg_min(ham, eid) AS BIGINT) AS hamming
        |  FROM cand GROUP BY 1)
        |SELECT s.doc_id, coalesce(m.dup_of, CAST(-1 AS BIGINT)) AS dup_of,
        |  coalesce(m.hamming, CAST(-1 AS BIGINT)) AS hamming
        |FROM s LEFT JOIN m ON s.doc_id = m.did
        |ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val signed = Tables(s, dir, "documents")
        .select(col("doc_id"),
          call_function("simhash64", array_distinct(split(col("text"), " ")))
            .as("sig"))
      val cap = graft.dedup.Dedup.lshBucketCap(s)
      graft.streaming.StreamDedup.collapseHits(signed,
          graft.streaming.StreamDedup.simhashBandHits(signed, cap))
        .orderBy("doc_id")
    },

    // ---- §2.4 #261 end-to-end streaming curation (batch-twin shape) ------
    // The full LLM-curation screen stack (#37 quality + #29 exact dedup +
    // #260 streaming simhash near-dup + #73 decontamination) as ONE
    // composition — the foreachBatch pipeline ([[graft.streaming
    // .CurateStream]]) run as its single-batch whole-corpus twin (empty
    // state), which CurateStreamSpec pins EQUAL to any ordered micro-batch
    // replay. The oracle recomposes the four verified stage CTEs into one
    // kept-set. NOTE the near-dup stage is #260's streaming-realizable
    // screen (drop docs with an earlier-arrival hamming≤2 neighbor, index
    // first-cap per bucket) — NOT pipeline_filter's retroactive
    // component-canonical rule; the two kept-sets legitimately differ on
    // transitive families and each is oracle-checked against its own
    // semantics.
    "curate_stream" -> OpDef(
      s"""WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    round(least(CAST(len(ws) AS DOUBLE), 100.0) / 100.0
        |      * (0.5 + 0.5 * (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws))),
        |      4) AS quality
        |  FROM t),
        |hsh AS (SELECT doc_id, md5(text) AS th FROM documents),
        |k AS (SELECT th, MIN(doc_id) AS keep_id FROM hsh GROUP BY th),
        |exdup AS (
        |  SELECT h.doc_id FROM hsh h JOIN k USING (th)
        |  WHERE h.doc_id <> k.keep_id),
        |sg AS (
        |  SELECT doc_id,
        |    list_transform(list_distinct(string_split(text, ' ')),
        |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS th
        |  FROM documents),
        |ss AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 59), i ->
        |      CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
        |           THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sig
        |  FROM sg),
        |bands AS (
        |  SELECT doc_id, sig, b, (sig >> (b * 20)) & 1048575 AS bkey,
        |    row_number() OVER (PARTITION BY b, (sig >> (b * 20)) & 1048575
        |                       ORDER BY doc_id) AS rn
        |  FROM ss, (SELECT unnest(generate_series(0, 2)) AS b)),
        |simdup AS (
        |  SELECT DISTINCT d.doc_id
        |  FROM bands d JOIN bands e ON d.b = e.b AND d.bkey = e.bkey
        |   AND e.doc_id < d.doc_id AND e.rn <= ${graft.dedup.Dedup.LshBucketCap}
        |  WHERE bit_count(xor(d.sig, e.sig)) <= 2),
        |gg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(0, len(ws) - 8),
        |    i -> ('0x' || substr(md5(ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]||' '||ws[i+8]), 1, 8))::BIGINT))) AS h
        |  FROM t WHERE len(ws) >= 8),
        |bench AS (SELECT DISTINCT h FROM gg WHERE doc_id % 10 = 0),
        |cont AS (
        |  SELECT DISTINCT doc_id FROM gg JOIN bench USING (h)
        |  WHERE doc_id % 10 <> 0)
        |SELECT d.doc_id, d.lang, q.quality
        |FROM documents d JOIN q USING (doc_id)
        |WHERE d.doc_id % 10 <> 0 AND q.quality >= 0.25
        |  AND d.doc_id NOT IN (SELECT doc_id FROM exdup)
        |  AND d.doc_id NOT IN (SELECT doc_id FROM simdup)
        |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)
        |ORDER BY d.doc_id""".stripMargin
    ) { (s, dir) =>
      val docsDf = Tables(s, dir, "documents")
      val bench = graft.dedup.Dedup
        .gramRows(docsDf.filter(col("doc_id") % 10 === 0), 8)
        .select("h").distinct()
      graft.streaming.CurateStream.curateBatch(docsDf,
          graft.streaming.CurateStream.emptyMd5(s),
          graft.streaming.CurateStream.emptySim(s),
          bench, minQuality = 0.25,
          cap = graft.dedup.Dedup.lshBucketCap(s))
        .kept.orderBy("doc_id")
    },

    // ---- §2.1 #7 ChangeLoader: incremental two-phase apply ≡ one-shot ----
    // Collapse+apply the first half of the feed, then the second half on
    // top; the result must equal the full-feed merge (the cdc_merge_fields
    // oracle) — proving flush-batch composition is associative, the property
    // the reference's every-N-blocks flush relies on.
    "cdc_snapshot_apply" -> OpDef(
      withCh(
        """, lastdel AS (
          |  SELECT pk, MAX(CASE WHEN op = 'DELETE' THEN block END) AS del_block
          |  FROM ch GROUP BY pk),
          |alive AS (
          |  SELECT ch.* FROM ch JOIN lastdel USING (pk)
          |  WHERE ch.op <> 'DELETE' AND (del_block IS NULL OR ch.block > del_block)),
          |merged AS (
          |  SELECT pk,
          |    last_value(amount IGNORE NULLS) OVER w AS amount,
          |    last_value(kval   IGNORE NULLS) OVER w AS kval,
          |    last_value(note   IGNORE NULLS) OVER w AS note,
          |    row_number() OVER (PARTITION BY pk ORDER BY block DESC) AS rn
          |  FROM alive
          |  WINDOW w AS (PARTITION BY pk ORDER BY block
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
          |SELECT pk AS user_id, amount, kval, note FROM merged WHERE rn = 1
          |ORDER BY user_id""".stripMargin)
    ) { (s, dir) =>
      val fields = Seq("amount", "kval", "note")
      val ch = Changes(s, dir)
      val mid = 500L // event_ids (blocks) are dense from 0; sf-independent split
      val empty = s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
      val snap1 = ChangeLoader.applyBatch(empty,
        ChangeLoader.collapse(ch.filter(col("block") <= mid), fields), fields)
      ChangeLoader.applyBatch(snap1,
        ChangeLoader.collapse(ch.filter(col("block") > mid), fields), fields)
        .select(col("pk").as("user_id"), col("amount"), col("kval"), col("note"))
        .orderBy("user_id")
    }
  )
}
