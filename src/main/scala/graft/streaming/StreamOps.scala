package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the per-user dwell state machine (µs event time). */
final case class DwellEv(user_id: Long, event_type: String, us: Long,
    event_id: Long, ts: java.sql.Timestamp)

/** One emitted dwell: the gap from an event to the same user's next one,
  * attributed to the FIRST event's type and day.
  */
final case class DwellOut(user_id: Long, event_type: String, day: String,
    dwell_us: Long)

/** One signed ledger delta for the per-account balance state machine
  * (exact integer cents — the state must fold in the same arithmetic the
  * batch twin's DECIMAL(18,2) does).
  */
final case class BalEv(user_id: Long, event_id: Long, amt_c: Long, us: Long,
    ts: java.sql.Timestamp)

/** Per-account balance state: tx count, current / low / high water marks,
  * all in integer cents.
  */
final case class BalState(n: Long, bal: Long, lo: Long, hi: Long)

/** Per-user deltaSum state: event count, last seen value, and the
  * accumulated positive-delta sum — integer cents throughout (#327).
  */
final case class DeltaSumState(n: Long, last: Long, acc: Long)

/** One emitted deltaSum snapshot. */
final case class DeltaSumOut(user_id: Long, n_tx: Long, delta_sum: Double,
    last_value: Double)

/** One emitted balance snapshot (the #264 read-out shape). */
final case class BalOut(user_id: Long, n_tx: Long, final_balance: Double,
    min_balance: Double, max_balance: Double)

/** Per-account drawdown state: tx count, balance, running peak, max
  * peak-to-trough fall — integer cents (the #272 machine, made streaming).
  */
final case class DdState(n: Long, bal: Long, peak: Long, mdd: Long)

/** One emitted drawdown snapshot (the #272 read-out shape). */
final case class DdOut(user_id: Long, n_tx: Long, max_drawdown: Double,
    peak_balance: Double, final_balance: Double)

/** One event for the live-funnel state machine (µs event time). */
final case class FunEv(user_id: Long, event_type: String, us: Long,
    event_id: Long, ts: java.sql.Timestamp)

/** Per-user funnel state: the three stage timestamps (µs, −1 = unreached). */
final case class FunState(t1: Long, t2: Long, t3: Long)

/** One emitted funnel snapshot: the user's current funnel level. */
final case class FunOut(user_id: Long, level: Long)

/** One event for the live Bollinger state machine: instrument, epoch day,
  * integer cents, µs event time.
  */
final case class BbEv(t: String, d: Long, c: Long, us: Long,
    ts: java.sql.Timestamp)

/** One CLOSED daily flow cell (epoch day, exact integer cents). */
final case class BbCell(d: Long, c: Long)

/** Per-instrument Bollinger state: the still-open day's cell plus the ring
  * of the last ≤20 closed daily cells (exact integer cents throughout —
  * the band math converts once, at emission).
  */
final case class BbState(openD: Long, openC: Long, openUs: Long,
    ring: List[BbCell])

/** One emitted band verdict for a CLOSED day: trailing-window size, the
  * day's flow, and breach ∈ {−1, 0, +1} (below/inside/above mean ± 2σ of
  * the PRIOR ≤20 days).
  */
final case class BbOut(event_type: String, day: Long, n_win: Long,
    flow: Double, breach: Long)

/** SURVEY §2.4 — streaming analytics transforms.
  *
  * Each transform is a pure DataFrame→DataFrame function valid on BOTH a
  * streaming and a static frame (Structured Streaming's unified model):
  * streaming runs add a watermark (bounding state) and run incrementally;
  * the static shape is what the batch query bank + DuckDB oracle check.
  */
object StreamOps {

  /** Opt-in inactivity eviction for the per-key state machines (r12).
    *
    * STATE CONTRACT PER TWIN (r13, explicit): for [[balanceLive]] and
    * [[drawdownLive]] unbounded NoTimeout state IS the contract, not an
    * oversight — a ledger balance/peak is entity-grain state that stays
    * meaningful forever, so evicting it silently CHANGES ANSWERS (n_tx and
    * balance restart at zero on the key's next event); state is O(accounts)
    * — bounded by the entity universe, not the event volume — which is the
    * same asymptotic promise a keyed OLAP sink makes for its per-pk rows.
    * Deployments whose account universe is itself unbounded (e.g. one-time
    * addresses) opt in to the horizon below and accept restart semantics,
    * which the snapshot-on-evict emission makes visible downstream.
    * [[funnelLive]] carries the same default for stream≡batch parity with
    * its oracle-checked twin, but a conversion funnel has a NATURAL horizon
    * (no funnel credits a signup→purchase 90 days apart) — production
    * callers should arm one; StreamEvictionSpec pins the restart-at-level-0
    * behavior. [[dwellRows]] eviction is exactly LOSSLESS at any horizon ≥
    * the 30-min dwell cap (a pair spanning the gap is over-cap by
    * construction), so arming it costs nothing but the watermark's
    * late-drop tolerance — the only reason it is not hard-defaulted is that
    * the bit-for-bit shuffled-replay specs (and the CDC ordered-replay
    * contract they pin) run without a watermark.
    *
    * `spark.graft.stream.inactivityHorizon` (e.g. "45m", "12h", "30d", or
    * raw milliseconds) arms EventTimeTimeout on [[dwellRows]],
    * [[balanceLive]], [[drawdownLive]] and [[funnelLive]]: a key silent
    * past the horizon (in EVENT time, judged by the watermark) has its
    * state dropped after one final snapshot emission (ledger twins) /
    * silently (dwell). Unset (the default) keeps the documented
    * O(accounts)-state NoTimeout premise — bit-identical behavior to r11.
    *
    * Semantics under eviction are the CDC ordered-replay contract: rows
    * older than the watermark are dropped by Spark before the state
    * function sees them, so a "late arrival that reopens a key" is
    * necessarily ≥ horizon after the key's last event — a genuinely new
    * activity epoch. The ledger/funnel state machines then restart from
    * zero (the snapshot stream makes the restart visible: n_tx resets);
    * [[dwellRows]] is exactly lossless because its horizon is floored at
    * the 30-minute dwell cap — any pair spanning an eviction gap would
    * have been over the cap and dropped anyway.
    *
    * `spark.graft.stream.watermarkDelay` (same formats, default "1h")
    * sets the late tolerance of the watermark armed with the horizon.
    */
  private[graft] def horizonMsOf(df: DataFrame): Option[Long] =
    df.sparkSession.conf.getOption("spark.graft.stream.inactivityHorizon")
      .filter(_.nonEmpty).map(parseDurationMs)

  private def watermarkDelayOf(df: DataFrame): String =
    df.sparkSession.conf.getOption("spark.graft.stream.watermarkDelay")
      .filter(_.nonEmpty).map(s => s"${parseDurationMs(s)} milliseconds")
      .getOrElse("1 hour")

  private[graft] def parseDurationMs(s: String): Long = {
    val t = s.trim.toLowerCase
    if (t.forall(_.isDigit)) t.toLong
    else {
      val n = t.dropRight(1).trim.toLong
      t.last match {
        case 'm' => n * 60000L
        case 'h' => n * 3600000L
        case 'd' => n * 86400000L
        case _ => throw new IllegalArgumentException(
          s"bad duration '$s' (want <n>m|h|d or ms)")
      }
    }
  }

  /** (source with watermark iff evicting, timeout conf) for a state op. */
  private def evictionArm(events: DataFrame, horizon: Option[Long])
      : (DataFrame, GroupStateTimeout) =
    if (horizon.isDefined && events.isStreaming)
      (events.withWatermark("ts", watermarkDelayOf(events)),
        GroupStateTimeout.EventTimeTimeout)
    else (events, GroupStateTimeout.NoTimeout)

  /** #42 — tumbling-window event counts per type, 1-day windows, 1-hour
    * watermark on streams (late data beyond it is dropped; state per open
    * window is O(types × windows-in-watermark)).
    */
  def windowedCounts(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** #177 — windowed fixed-probe CDF counters per (day, type): every probe
    * rides the SAME watermarked windowed aggregate — the -If / conditional
    * count discipline lifted to streams. Conditional partial aggs are
    * trivially incremental, so state per open window stays O(types ×
    * probes) however hot the window — the live SLO-threshold monitor
    * (share of values ≤ X) without a quantile sketch.
    */
  val cdfProbes: Seq[Long] = Seq(1000L, 2500L, 5000L, 7500L, 9000L)

  /** #202 — windowed PSI drift per 1-day window vs a FIXED baseline decile
    * histogram (the train/serve drift monitor `psi_drift` computes in
    * batch, as a live stream): all ten decile counters ride ONE
    * watermarked windowed aggregate (conditional partial counts — the
    * stream_cdf / -If discipline, trivially incremental, O(windows × 10)
    * state), and the PSI fold is a STATELESS projection over the closed
    * window's counters against broadcast-literal baseline shares — the
    * deployment shape where the reference histogram is computed offline
    * and shipped with the job. Cells empty in the window contribute 0 on
    * both engines; `baseline` must be all-positive (a decile absent from
    * the reference period would make ln(p/q) undefined — validate
    * upstream, where the baseline is built).
    */
  def windowedPsi(events: DataFrame, baseline: Seq[Double]): DataFrame = {
    require(baseline.length == 10 && baseline.forall(_ > 0),
      "baseline must be 10 positive decile shares")
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    val b = graft.ops.parity.floorDiv(
      get_json_object(col("props"), "$.k").cast("long"), 10)
    val agged = src.select(col("ts"), b.as("b"))
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"),
        (0 until 10).map(i => count(when(col("b") === i, 1)).as(s"c_$i")): _*)
    val psi = (0 until 10).map { i =>
      val p = col(s"c_$i").cast("double") / col("n")
      val q = lit(baseline(i))
      when(col(s"c_$i") > 0, (p - q) * log(p / q)).otherwise(lit(0.0))
    }.reduce(_ + _)
    agged.select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
      col("n"), round(psi, 4).as("psi"))
  }

  /** #221 — windowed z-score drift monitor: per closed (day, type) window
    * the exact-integer cents total z-scored against a FIXED per-type
    * baseline (mean, std of daily totals) computed offline and shipped
    * broadcast-literal with the job — the stream_psi deployment shape for
    * the anomaly_zscore family. The windowed aggregate is two conditional
    * counters per open window (trivially incremental, O(windows × types)
    * state); the z fold is a STATELESS projection over closed windows.
    * Types absent from the baseline, or with a degenerate (k ≤ 1 or
    * zero-variance) baseline, emit NULL z on both engines.
    */
  def windowedAnomaly(events: DataFrame,
      baseline: Seq[(String, Double, Double)]): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val agged = src.select(col("ts"), col("event_type"), cents.as("c"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
    val mean = baseline.foldLeft(lit(null).cast("double")) {
      case (acc, (t, m, _)) => when(col("event_type") === t, lit(m)).otherwise(acc)
    }
    val std = baseline.foldLeft(lit(null).cast("double")) {
      case (acc, (t, _, sd)) => when(col("event_type") === t, lit(sd)).otherwise(acc)
    }
    agged.select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
      col("event_type"), col("n"), col("s").cast("long").as("s"),
      round(when(std > 0, (col("s") - mean) / std), 4).as("z"))
  }

  def windowedCdf(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    src.select(col("ts"), col("event_type"), cents.as("c"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        cdfProbes.map(p => count(when(col("c") <= p, 1)).as(s"le_$p")): _*)
      .select(Seq(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n")) ++ cdfProbes.map(p => col(s"le_$p")): _*)
  }

  /** #43 — gap-based sessionization (4-hour inactivity gap) per user via the
    * native session_window operator: state is one open session per user,
    * closed by the watermark on streams.
    */
  def sessionize(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(session_window(col("ts"), "4 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        (unix_timestamp(col("w.end")) - unix_timestamp(col("w.start"))).as("duration_s"),
        col("n_events"), col("sum_value"))
  }

  /** #62 — windowed DISTINCT user counts per type (1-day windows): the
    * streaming shape chains two stateful operators — watermarked
    * per-window dedup (state: distinct keys inside the watermark) feeding a
    * windowed count — giving EXACT distinct counts incrementally. The
    * mergeable-sketch alternative for re-aggregation at rest is `uniq_hll`
    * (§2.2 #57); this is the live-path twin.
    */
  def windowedUniques(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    // Chained windowed aggregations (the Spark 3.5+ multi-stateful pattern:
    // the inner agg's window carries event time forward via window_time):
    // inner = one row per (window, type, user) — the distinct set — outer
    // counts it. Both stateful ops evict by the same watermark.
    src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(window(window_time(col("w")), "1 day").as("w2"), col("event_type"))
      .agg(count(lit(1)).as("uniq_users"))
      .select(date_format(col("w2.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("uniq_users"))
  }

  /** #66 — windowed heavy hitters (CH topK over a live window): top-k users
    * by event count per (1-day window, type) via the space-saving
    * `TopKAgg`. State per open (window, type) group is O(capacity) —
    * constant, NOT O(distinct users) — so a hot window cannot grow state
    * unboundedly; exact when capacity ≥ the group's distinct users (the
    * oracle pins that regime at test SF; beyond it space-saving's
    * guarantee-aware merge bounds apply).
    */
  def windowedTopK(events: DataFrame, k: Int = 3,
      capacity: Int = graft.CapacityPins.StreamTopKCap): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(call_function("topk_approx",
        col("user_id").cast("string"), lit(k), lit(capacity)).as("top_users"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("top_users"))
  }

  /** [[windowedTopK]]'s -State twin: the live half of the lambda handoff.
    * Each closed (1-day window, type) group emits its space-saving counter
    * table as a BINARY `topk_state` cell — what a streaming job persists to
    * a rollup table so an offline pass can `topk_merge` across any coarser
    * grain (week, all-time) WITHOUT replaying the stream. Cells share the
    * in-query partial wire format, so the offline merge is bit-identical
    * to having aggregated the raw events in one pass (exact regime).
    */
  def windowedTopKState(events: DataFrame,
      capacity: Int = graft.CapacityPins.StreamTopKCap): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(call_function("topk_state",
        col("user_id").cast("string"), lit(capacity)).as("st"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("st"))
  }

  /** #84 — windowed approximate quantiles per type (1-day windows): the
    * live-path twin of `quantiles_approx` (§2.2 #58). percentile_approx is
    * Spark's mergeable GK-style sketch, so state per open (window, type)
    * group is O(accuracy) — bounded however many events a hot window sees —
    * and partials merge map-side; the watermark closes windows. Sketch
    * results are merge-order-dependent, so the pin is a rank-error window
    * against the exact distribution (streaming spec), not a hash oracle —
    * the same contract #58 carries.
    */
  def windowedQuantiles(events: DataFrame, accuracy: Int = 1000): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(percentile_approx(col("value"),
        array(lit(0.5), lit(0.95)), lit(accuracy)).as("q"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("q")(0).as("p50"), col("q")(1).as("p95"))
  }

  /** #310 — windowed KMV distinct sketches per type (1-day windows): the
    * live-path twin of `uniq_theta_ops`/`uniq_theta_reagg` (§2.2
    * #306/#309). The KmvAgg bottom-k buffer is the streaming state per
    * open (window, type) group — O(min(distinct, k)) longs, loss-free
    * associative merges across micro-batches, watermark closes windows.
    * Exact while k ≥ distinct users per (day, type) (≤ the per-type
    * KmvCap pin), the shared (k−1)·H/θ estimator beyond — so the BATCH
    * shape is oracle-checkable as a plain COUNT(DISTINCT) at the gate SFs
    * while the identical plan keeps live mergeable distinct-set cells
    * (that unions/intersects across windows, via kmv_merge) at 100 TB.
    */
  def windowedUniqTheta(events: DataFrame,
      k: Int = graft.CapacityPins.KmvCap): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(call_function("kmv_sketch",
        graft.ops.parity.md5Long(col("user_id").cast("string")), lit(k)).as("sk"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"),
        graft.functions.GraftFunctions.kmvEstimate(col("sk"), k).as("n_uniq"))
  }

  /** #317 — windowed EXACT distinct users per (1-day window, type) on the
    * compressed bitmap: the [[windowedUniqTheta]] twin with
    * [[graft.functions.BitmapAgg]] as the state — ≤2 bytes per distinct
    * member per open (window, type) cell, loss-free associative merges
    * across micro-batches, canonical serialized form (so persisted cells
    * re-aggregate byte-identically via bitmap_merge at any flush cadence).
    * Exact at EVERY SF — no capacity regime, which is the trade against
    * the theta-sketch twin's O(k) bound; the batch shape is the plain
    * COUNT(DISTINCT) oracle row.
    */
  def windowedBitmapUniq(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(call_function("bitmap_agg", col("user_id")).as("bm"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"),
        call_function("bitmap_card", col("bm")).as("n_uniq"))
  }

  /** #106 — hopping (sliding) windowed counts: 1-day windows advancing every
    * 12 hours, so each event lands in exactly TWO overlapping windows.
    * Spark's window() expands the slide set inline (a bounded 2-row
    * explode, no join); state per open (window, type) is one count row and
    * the watermark closes two windows per slide. The CH equivalent is a
    * hop() windowed view.
    */
  def hoppingCounts(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 day", "12 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"))
  }

  /** #107 — stream-stream interval self-join: each click paired with the
    * same user's purchases in the following hour. Both sides carry a
    * watermark and the join condition is an EVENT-TIME RANGE, which is what
    * lets Spark bound join state (clicks evict at watermark − 1 h,
    * purchases at the watermark) — the one join shape that runs forever on
    * an unbounded stream. Batch shape: the identical equi-join + range
    * filter (user_id hash join; AQE broadcasts at small SF).
    */
  def clickPurchasePairs(events: DataFrame): DataFrame = {
    def side(t: String, p: String) =
      events.filter(col("event_type") === t)
        .select(col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts"),
          col("event_id").as(s"${p}_id"))
    val (clicks, purchases) =
      if (events.isStreaming)
        (side("click", "c").withWatermark("c_ts", "1 hour"),
          side("purchase", "p").withWatermark("p_ts", "1 hour"))
      else (side("click", "c"), side("purchase", "p"))
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
  }

  /** #249 — per-event dwell rows (gap to the same user's next event, ≤ 30
    * min, attributed to the FIRST event's type/day — the #239 semantics).
    *
    * Streaming: `flatMapGroupsWithState` per user holding exactly ONE cell
    * (the latest event) — O(users) state, each arrival emits its
    * predecessor's dwell. The custom-state shape because no windowed
    * aggregate expresses "join each event to its successor". Premise (the
    * usual one for sequence state machines): per-user arrivals are in
    * event-time order — enforce upstream by keying the source by user.
    * Batch: the IDENTICAL semantics as one lead window; the streaming spec
    * pins emitted rows ≡ the batch set on a replayed feed.
    */
  def dwellRows(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val capUs = 1800L * 1000000L
    // eviction (opt-in, see horizonMsOf) is EXACTLY lossless here: the
    // horizon floors at the 30-min dwell cap, so any pair spanning an
    // eviction gap was over the cap and would have been dropped anyway
    val horizon = horizonMsOf(events).map(h => math.max(h, capUs / 1000L))
    val (src, timeoutConf) = evictionArm(events, horizon)
    val sel = src.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("event_id"), col("ts")).as[DwellEv]
    def dayOf(us: Long): String =
      java.time.LocalDate.ofEpochDay(Math.floorDiv(us, 86400000000L)).toString
    if (events.isStreaming)
      sel.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
          (uid: Long, it: Iterator[DwellEv],
           state: GroupState[(Long, String, Long)]) => {
            if (state.hasTimedOut) {
              state.remove()
              Iterator.empty
            } else {
              val evs = it.toSeq.sortBy(e => (e.us, e.event_id))
              val out = Seq.newBuilder[DwellOut]
              var prev = state.getOption
              evs.foreach { e =>
                prev.foreach { case (pus, ptype, _) =>
                  val d = e.us - pus
                  if (d <= capUs) out += DwellOut(uid, ptype, dayOf(pus), d)
                }
                prev = Some((e.us, e.event_type, e.event_id))
              }
              prev.foreach { p =>
                state.update(p)
                horizon.foreach(h => state.setTimeoutTimestamp(p._1 / 1000L + h))
              }
              out.result().iterator
            }
          }).toDF()
    else {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      sel.toDF()
        .withColumn("dwell_us", lead("us", 1).over(w) - col("us"))
        .filter(col("dwell_us").isNotNull && col("dwell_us") <= capUs)
        .select(col("user_id"), col("event_type"),
          date_format((col("us") / 1000000L).cast("timestamp"), "yyyy-MM-dd")
            .as("day"),
          col("dwell_us"))
    }
  }

  /** The (day, type) dwell roll-up over [[dwellRows]] — the shape the batch
    * oracle checks (`stream_dwell`); on a stream, run [[dwellRows]] into a
    * rollup sink and fold there (the -State/-Merge handoff: dwell counts
    * and µs totals are additive).
    */
  def windowedDwell(events: DataFrame): DataFrame =
    dwellRows(events)
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n_dwells"),
        expr("sum(dwell_us) div 1000000").as("total_s"),
        round(sum("dwell_us").cast("double") / count(lit(1)) / 1000000, 4)
          .as("avg_s"))

  /** #266 — live OHLC candlestick bars per (instrument, hour): the
    * streaming twin of `ohlc_bars` (#262), i.e. the materialized-view shape
    * a sink user keeps warm over the ingested ledger. One watermarked
    * tumbling-window aggregate; open/close = min_by/max_by on the unique
    * monotone event_id (same pick as batch — deterministic under ts ties
    * and ORDER-OF-ARRIVAL independent, so replays and shuffled batches
    * converge to the identical bar), volume folds in DECIMAL(18,2). State
    * per open window is O(instruments): five scalars per (type, hour)
    * cell, evicted by the 1-hour watermark.
    */
  def ohlcBars(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("volume"),
        count(lit(1)).cast("long").as("n_trades"))
      .select(col("event_type"),
        unix_timestamp(col("w.start")).cast("long").as("bar_hour"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_trades"))
  }

  /** #276 — live hourly VWAP per instrument: the streaming twin of
    * `vwap_hourly` (#263). The windowed aggregate keeps only the two
    * additive partials (DECIMAL Σ value·k, BIGINT Σk) plus a count — both
    * arrival-order independent, so stream ≡ batch exactly — and the
    * integer half-up micro-unit divide (the #263 parity spelling: 6-dp
    * midpoints are common on cents×integer inputs and double-rounding
    * diverges across engines) runs as a PROJECTION on the closed window's
    * partials. State per open window is O(instruments) scalars, evicted
    * by the 1-hour watermark; zero-weight bars drop (0/0 VWAP).
    */
  def vwapBars(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    val k = get_json_object(col("props"), "$.k").cast("long")
    // Σ value·k is kept as integer CENTS·k in DECIMAL(38,0) — exact to
    // 1e38 — so the half-up micro-unit divide never leaves decimal space.
    // (The r11 spelling cast num·1e6 to BIGINT, which wraps silently past
    // ~9.2e12 hourly notional under Spark's non-ANSI default while the
    // DuckDB oracle raises — a latent cross-engine divergence at large SF.
    // 2·num_c·10^4 = 2·num·10^6; IntegralDivide accepts decimal operands
    // and returns BIGINT, and v6 itself is bounded by max(value)·10^6.)
    val centsK = ((col("value").cast("decimal(18,2)") * 100).cast("long") * k)
      .cast("decimal(38,0)")
    src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        sum(centsK).as("num_c"),
        sum(k).cast("long").as("w_total"),
        count(lit(1)).cast("long").as("n_trades"))
      .filter(col("w_total") > 0)
      .withColumn("v6",
        expr("(2 * num_c * 10000 + w_total) div (2 * w_total)"))
      .select(col("event_type"),
        unix_timestamp(col("w.start")).cast("long").as("bar_hour"),
        (col("v6").cast("double") / lit(1000000d)).as("vwap"),
        col("w_total"), col("n_trades"))
  }

  /** #285 — live per-(day, type) Pearson correlation between value and the
    * json k weight: the streaming face of `corr_reagg` (#284). The six
    * corr partials (n, Σx, Σy, Σxy, Σxx, Σyy) are ADDITIVE with the moment
    * sums in exact decimals, so they ride ONE watermarked tumbling-window
    * aggregate — arrival-order independent, stream ≡ batch bit-for-bit —
    * and the IEEE corr chain (the #94 spelling) runs as a projection on
    * the closed window's totals. State per open window is O(types × open
    * windows) scalars, evicted by the 1-hour watermark. Windows without
    * variance on either axis drop (the corr is undefined; the double
    * predicate is the identical expression on both engines).
    */
  def corrBars(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    val x = col("value").cast("decimal(18,2)")
    val y = get_json_object(col("props"), "$.k").cast("long")
    val m = src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"))
    val n = col("n"); val sx = col("sx"); val sy = col("sy")
    val vx = n * col("sxx") - sx * sx
    val vy = n * col("syy") - sy * sy
    m.filter(vx > 0 && vy > 0)
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        n.cast("long").as("n"),
        ((n * col("sxy") - sx * sy) / (sqrt(vx) * sqrt(vy))).as("corr_xy"))
  }

  /** #278 — live per-account balances: the streaming twin of
    * `balance_running` (#264), i.e. the account view a sink keeps warm
    * while the ledger ingests. State per account is FOUR integer-cent
    * scalars (tx count, balance, low/high water marks) — O(accounts)
    * total, no event retention; each micro-batch's arrivals fold in
    * event_id order (in-batch arrival order is a shuffle artifact, so the
    * state machine sorts its batch slice — the dwellRows discipline), and
    * the updated snapshot row emits per touched account (Update mode).
    * Cross-batch the contract is ordered replay (the CDC cursor
    * guarantee); the emission spec pins 2-batch ordered replay ≡ batch
    * and in-batch shuffle-invariance. Exact integer cents end to end —
    * the /100.0 at the output boundary is the same correctly-rounded
    * double the batch twin's DECIMAL(18,2) cast produces.
    */
  def balanceLive(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val amtC = when(col("event_type").isin("purchase", "signup"), cents)
      .otherwise(-cents)
    val horizon = horizonMsOf(events)
    val (src, timeoutConf) = evictionArm(events, horizon)
    val sel = src.select(col("user_id"), col("event_id"), amtC.as("amt_c"),
      unix_micros(col("ts")).as("us"), col("ts")).as[BalEv]
    if (events.isStreaming)
      sel.groupByKey(_.user_id)
        .mapGroupsWithState(timeoutConf)(
          (uid: Long, it: Iterator[BalEv], state: GroupState[BalState]) => {
            if (state.hasTimedOut) {
              // snapshot-on-evict: re-emit the final state, then drop it —
              // a later arrival restarts the account from zero (visible:
              // n_tx resets), per the CDC ordered-replay contract
              val st = state.get
              state.remove()
              BalOut(uid, st.n, st.bal / 100.0, st.lo / 100.0, st.hi / 100.0)
            } else {
              var st = state.getOption
                .getOrElse(BalState(0L, 0L, Long.MaxValue, Long.MinValue))
              var maxUs = Long.MinValue
              it.toSeq.sortBy(_.event_id).foreach { e =>
                val b = st.bal + e.amt_c
                st = BalState(st.n + 1, b, math.min(st.lo, b),
                  math.max(st.hi, b))
                maxUs = math.max(maxUs, e.us)
              }
              state.update(st)
              horizon.foreach(h => state.setTimeoutTimestamp(maxUs / 1000L + h))
              BalOut(uid, st.n, st.bal / 100.0, st.lo / 100.0, st.hi / 100.0)
            }
          }).toDF()
    else {
      // batch twin: the same integer-cent fold as the state machine, so
      // stream ≡ batch is exact equality, not float proximity
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sel.toDF()
        .withColumn("bal", sum("amt_c").over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_tx"),
          (max_by(col("bal"), col("event_id")) / 100.0).as("final_balance"),
          (min("bal") / 100.0).as("min_balance"),
          (max("bal") / 100.0).as("max_balance"))
    }
  }

  /** #327 — live per-user deltaSum: the streaming twin of
    * `delta_sum_timestamp` (#324), i.e. the live face of CH's
    * deltaSumTimestamp — whose whole REASON to carry timestamps is that
    * states merge in time order. Here the time order is the ordered-replay
    * contract (the CDC cursor guarantee) plus an in-batch (ts, event_id)
    * sort of each slice; state per user is THREE integer-cent scalars
    * (count, last value, accumulated positive deltas) — the positive
    * boundary delta between batches is exactly `max(0, first − last)`,
    * which the fold computes for free by keeping `last`. Exact cents end
    * to end, so stream ≡ batch is exact equality, not float proximity.
    */
  def deltaSumLive(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val horizon = horizonMsOf(events)
    val (src, timeoutConf) = evictionArm(events, horizon)
    val sel = src.select(col("user_id"), col("event_id"), cents.as("amt_c"),
      unix_micros(col("ts")).as("us"), col("ts")).as[BalEv]
    if (events.isStreaming)
      sel.groupByKey(_.user_id)
        .mapGroupsWithState(timeoutConf)(
          (uid: Long, it: Iterator[BalEv], state: GroupState[DeltaSumState]) => {
            if (state.hasTimedOut) {
              val st = state.get
              state.remove()
              DeltaSumOut(uid, st.n, st.acc / 100.0, st.last / 100.0)
            } else {
              var st = state.getOption.getOrElse(DeltaSumState(0L, 0L, 0L))
              var maxUs = Long.MinValue
              // the delta fold is TIME-ordered: sort the batch slice by
              // (ts, event_id) — in-batch arrival order is a shuffle
              // artifact (the dwellRows discipline)
              it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
                val d = e.amt_c - st.last
                st = DeltaSumState(st.n + 1, e.amt_c,
                  if (st.n > 0L && d > 0L) st.acc + d else st.acc)
                maxUs = math.max(maxUs, e.us)
              }
              state.update(st)
              horizon.foreach(h => state.setTimeoutTimestamp(maxUs / 1000L + h))
              DeltaSumOut(uid, st.n, st.acc / 100.0, st.last / 100.0)
            }
          }).toDF()
    else {
      // batch twin: the same integer-cent fold via the lag window, so
      // stream ≡ batch is exact equality
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      sel.toDF()
        .withColumn("dv", col("amt_c") - lag("amt_c", 1).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_tx"),
          (coalesce(sum(when(col("dv") > 0, col("dv"))), lit(0L)) / 100.0)
            .as("delta_sum"),
          (max_by(col("amt_c"), struct(col("us"), col("event_id"))) / 100.0)
            .as("last_value"))
    }
  }

  /** #281 — live per-account maximum drawdown: the streaming twin of
    * `drawdown_max` (#272) and the risk monitor a live ledger keeps next
    * to [[balanceLive]]. The drawdown is ORDER-dependent (it reads the
    * balance trajectory), so it rides the same contract: four integer-cent
    * scalars per account (balance, running peak, max fall, count), each
    * batch slice folded in event_id order, ordered replay across batches.
    * The max-drawdown fold is prefix-incremental — peak and mdd only ever
    * grow — so state stays O(accounts) with no trajectory retention.
    */
  def drawdownLive(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val amtC = when(col("event_type").isin("purchase", "signup"), cents)
      .otherwise(-cents)
    val horizon = horizonMsOf(events)
    val (src, timeoutConf) = evictionArm(events, horizon)
    val sel = src.select(col("user_id"), col("event_id"), amtC.as("amt_c"),
      unix_micros(col("ts")).as("us"), col("ts")).as[BalEv]
    if (events.isStreaming)
      sel.groupByKey(_.user_id)
        .mapGroupsWithState(timeoutConf)(
          (uid: Long, it: Iterator[BalEv], state: GroupState[DdState]) => {
            if (state.hasTimedOut) {
              val st = state.get
              state.remove()
              DdOut(uid, st.n, st.mdd / 100.0, st.peak / 100.0, st.bal / 100.0)
            } else {
              var st = state.getOption
                .getOrElse(DdState(0L, 0L, Long.MinValue, Long.MinValue))
              var maxUs = Long.MinValue
              it.toSeq.sortBy(_.event_id).foreach { e =>
                val b = st.bal + e.amt_c
                val pk = math.max(st.peak, b)
                st = DdState(st.n + 1, b, pk, math.max(st.mdd, pk - b))
                maxUs = math.max(maxUs, e.us)
              }
              state.update(st)
              horizon.foreach(h => state.setTimeoutTimestamp(maxUs / 1000L + h))
              DdOut(uid, st.n, st.mdd / 100.0, st.peak / 100.0, st.bal / 100.0)
            }
          }).toDF()
    else {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sel.toDF()
        .withColumn("bal", sum("amt_c").over(w))
        .withColumn("peak", max("bal").over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_tx"),
          (max(col("peak") - col("bal")) / 100.0).as("max_drawdown"),
          (max("bal") / 100.0).as("peak_balance"),
          (max_by(col("bal"), col("event_id")) / 100.0).as("final_balance"))
    }
  }

  /** #282 — live conversion funnel: the streaming twin of `funnel_window`
    * (#67) at the per-user grain — the CH windowFunnel read-out a live
    * product dashboard keeps warm. State per user is THREE µs timestamps
    * (earliest signup; earliest click after it within the 7-day horizon;
    * earliest purchase after that, same horizon). The batch definition's
    * nested earliest-qualifying MINs are exactly a greedy fold over
    * ts-ordered events — each event either advances the lowest unreached
    * stage or is dropped — so processing each batch slice in (ts,
    * event_id) order under the ordered-replay contract reproduces the
    * batch windows bit-for-bit. Levels only ever grow; emission is the
    * Update-mode snapshot per touched user (a sink rollup folds the level
    * histogram, the windowedDwell handoff).
    */
  def funnelLive(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val HorizonUs = 7L * 86400L * 1000000L
    val horizon = horizonMsOf(events)
    val (src, timeoutConf) = evictionArm(events, horizon)
    val sel = src.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("event_id"), col("ts")).as[FunEv]
    def levelOf(st: FunState): Long =
      if (st.t3 >= 0) 3L else if (st.t2 >= 0) 2L
      else if (st.t1 >= 0) 1L else 0L
    if (events.isStreaming)
      sel.groupByKey(_.user_id)
        .mapGroupsWithState(timeoutConf)(
          (uid: Long, it: Iterator[FunEv], state: GroupState[FunState]) => {
            if (state.hasTimedOut) {
              val st = state.get
              state.remove()
              FunOut(uid, levelOf(st))
            } else {
              var st = state.getOption.getOrElse(FunState(-1L, -1L, -1L))
              var maxUs = Long.MinValue
              it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
                if (st.t1 < 0) {
                  if (e.event_type == "signup") st = FunState(e.us, -1L, -1L)
                } else if (st.t2 < 0) {
                  if (e.event_type == "click" && e.us > st.t1 &&
                    e.us <= st.t1 + HorizonUs) st = st.copy(t2 = e.us)
                } else if (st.t3 < 0) {
                  if (e.event_type == "purchase" && e.us > st.t2 &&
                    e.us <= st.t1 + HorizonUs) st = st.copy(t3 = e.us)
                }
                maxUs = math.max(maxUs, e.us)
              }
              state.update(st)
              horizon.foreach(h => state.setTimeoutTimestamp(maxUs / 1000L + h))
              FunOut(uid, levelOf(st))
            }
          }).toDF()
    else {
      val w = Window.partitionBy("user_id")
      val d = sel.toDF()
        .withColumn("t1",
          min(when(col("event_type") === "signup", col("us"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("us") > col("t1") &&
            col("us") <= col("t1") + HorizonUs, col("us"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("us") > col("t2") &&
            col("us") <= col("t1") + HorizonUs, col("us"))).over(w))
      d.groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        .select(col("user_id"),
          when(col("t3").isNotNull, 3L)
            .when(col("t2").isNotNull, 2L)
            .when(col("t1").isNotNull, 1L)
            .otherwise(0L).as("level"))
    }
  }

  /** The shared band verdict for one closed day: trailing cells strictly
    * inside [d−20, d−1], n ≥ 5, mean ± 2σ. Exact integer-cent sums convert
    * to double ONCE each (BigDecimal scale-2/scale-4 → nearest double —
    * the same single rounding the batch twin's DECIMAL window sums take),
    * then the identical IEEE chain both engines spell.
    */
  private def bbVerdict(t: String, d: Long, cents: Long,
      ring: List[BbCell]): Option[BbOut] = {
    val win = ring.filter(c => c.d >= d - 20 && c.d <= d - 1)
    val n = win.size
    if (n < 5) None
    else {
      // exact integer sums; ONE nearest-double conversion each, then the
      // /100-/10000 IEEE divides — the precise spelling of the batch
      // twin's cast(double) on its exact BIGINT/DECIMAL window sums
      val sw = win.map(c => BigInt(c.c)).sum.toDouble / 100.0
      val qw = win.map(c => BigInt(c.c) * BigInt(c.c)).sum.toDouble / 10000.0
      val vd = cents.toDouble / 100.0
      val mu = sw / n
      val sd = math.sqrt((qw - sw * sw / n) / (n - 1))
      val breach =
        if (vd > mu + 2 * sd) 1L else if (vd < mu - 2 * sd) -1L else 0L
      Some(BbOut(t, d, n.toLong, vd, breach))
    }
  }

  /** #304 — live Bollinger band breach alerts per instrument: the CAUSAL
    * streaming twin of `bollinger_breach` (#297). A day's verdict compares
    * its flow against the mean ± 2σ band of the PRIOR ≤20 closed days
    * (#297's window is retrospective/inclusive; an alerting stream cannot
    * use the day being judged inside its own band), and a day is judged
    * exactly ONCE — when its successor day's first event closes it (the
    * final, still-open day never emits; the batch shape excludes each
    * type's max day to match).
    *
    * State per instrument is ONE open cell + ≤20 closed cells of exact
    * integer cents — O(instruments × 21) scalars, watermark-independent.
    * Arrivals fold per batch slice grouped by day in day order (the CDC
    * ordered-replay contract the ledger twins document; a slice-internal
    * day is closed by the next slice day, a cross-batch day stays open in
    * state). Band math converts the exact cent sums to double once at
    * emission — bit-identical to the batch twin's DECIMAL window chain, so
    * replays reproduce the batch flags exactly.
    *
    * Eviction (opt-in, [[horizonMsOf]]): an instrument silent past the
    * horizon emits its open day's verdict (snapshot-on-evict) and drops;
    * the next arrival restarts with an empty ring (visible: n_win resets).
    */
  def bollingerLive(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val horizon = horizonMsOf(events)
    val (src, timeoutConf) = evictionArm(events, horizon)
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val sel = src.select(col("event_type").as("t"),
      (unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("d"),
      cents.as("c"), unix_micros(col("ts")).as("us"), col("ts")).as[BbEv]
    if (events.isStreaming)
      sel.groupByKey(_.t)
        .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
          (t: String, it: Iterator[BbEv], state: GroupState[BbState]) => {
            if (state.hasTimedOut) {
              val st = state.get
              state.remove()
              bbVerdict(t, st.openD, st.openC, st.ring).iterator
            } else {
              val days = it.toSeq.groupBy(_.d).toSeq.sortBy(_._1)
                .map { case (d, es) => (d, es.map(_.c).sum, es.map(_.us).max) }
              val out = Seq.newBuilder[BbOut]
              var st = state.getOption.getOrElse(
                BbState(Long.MinValue, 0L, Long.MinValue, Nil))
              days.foreach { case (d, c, us) =>
                if (st.openD == Long.MinValue)
                  st = BbState(d, c, us, st.ring)
                else if (d == st.openD)
                  st = BbState(d, st.openC + c, math.max(st.openUs, us), st.ring)
                else if (d > st.openD) {
                  out ++= bbVerdict(t, st.openD, st.openC, st.ring)
                  val ring = (BbCell(st.openD, st.openC) :: st.ring)
                    .filter(cell => cell.d >= d - 20)
                  st = BbState(d, c, math.max(st.openUs, us), ring)
                }
                // d < openD: out-of-contract late day — dropped (the
                // ordered-replay premise all sequence state machines share)
              }
              state.update(st)
              horizon.foreach(h =>
                state.setTimeoutTimestamp(st.openUs / 1000L + h))
              out.result().iterator
            }
          }).toDF()
    else {
      // cells stay exact integer cents; c² folds in DECIMAL(38,0) (a
      // sf10 daily cell squared is ~2.5e21 — past int64); each window sum
      // converts to double ONCE, then the same /100-/10000 divides the
      // state machine spells
      val daily = sel.toDF().groupBy("t", "d")
        .agg(sum("c").cast("long").as("vc"))
        .withColumn("q", col("vc").cast("decimal(38,0)") * col("vc"))
      val pw = Window.partitionBy("t").orderBy("d").rangeBetween(-20, -1)
      daily
        .withColumn("vd", col("vc").cast("double") / 100.0)
        .withColumn("n_win", count(lit(1)).over(pw).cast("long"))
        .withColumn("sw", sum("vc").over(pw).cast("double") / 100.0)
        .withColumn("qw", sum("q").over(pw).cast("double") / 10000.0)
        .withColumn("dmax", max("d").over(Window.partitionBy("t")))
        .filter(col("n_win") >= 5 && col("d") < col("dmax"))
        .withColumn("mu", col("sw") / col("n_win"))
        .withColumn("sd",
          sqrt((col("qw") - col("sw") * col("sw") / col("n_win"))
            / (col("n_win") - 1)))
        .select(col("t").as("event_type"), col("d").as("day"), col("n_win"),
          col("vd").as("flow"),
          when(col("vd") > col("mu") + lit(2) * col("sd"), 1L)
            .when(col("vd") < col("mu") - lit(2) * col("sd"), -1L)
            .otherwise(0L).as("breach"))
    }
  }

  /** #44 — drop duplicate (user_id, event_type) arrivals; on streams the
    * watermark bounds the dedup state (dropDuplicatesWithinWatermark), in
    * batch it is an exact keep-first dedup.
    */
  def dedupStream(events: DataFrame): DataFrame = {
    val keyed = events.select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    if (events.isStreaming)
      keyed.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .drop("ts")
    else
      // Batch equivalent with a deterministic "first": min event_id per key.
      keyed.groupBy("user_id", "event_type")
        .agg(min("event_id").as("event_id"))
        .select("user_id", "event_type", "event_id")
  }
}
