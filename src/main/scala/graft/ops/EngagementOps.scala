package graft.ops

import graft.OpDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.2 — user-lifecycle / engagement analytics: streaks,
  * retention, attribution and per-user volume profiles. Shared
  * discipline: ONE user-keyed aggregate carries every per-user fact
  * (distinct-day sets are calendar-bounded), second collapses land on
  * tiny grains, shares are single divides -> round(.,4).
  * (Consolidated r9 from the r8 chronology files.)
  */
object EngagementOps {

  private val kProp = get_json_object(col("props"), "$.k").cast(LongType)
  private val centsL =
    (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
  private val big = DecimalType(38, 0)
  private val epochDay = datediff(col("ts").cast(DateType),
    to_date(lit("1970-01-01"))).cast(LongType)

  val defs: Map[String, OpDef] = Map(
    // ---- #167 longest consecutive-day streak per user ----------------------
    // The CH maxConsecutive / gaps-and-islands pass: per user, the longest
    // run of consecutive active days plus the island count. Facts collapse
    // to the distinct (user, day) grain; the island id is the classic
    // d − row_number fold; BOTH windows and BOTH collapses ride one
    // hashpartitioning(user_id) clustering. Pure integer arithmetic —
    // exact, order-independent.
    "max_streak" -> OpDef(
      """WITH dd AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |r AS (
        |  SELECT user_id, d,
        |    d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS isl
        |  FROM dd),
        |g AS (SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS len
        |      FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(MAX(len) AS BIGINT) AS max_streak,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val dd = Tables(s, dir, "events")
        .select(col("user_id"), epochDay.as("d")).distinct()
      val r = dd.withColumn("isl", col("d") - row_number().over(
        Window.partitionBy("user_id").orderBy("d")))
      r.groupBy("user_id", "isl").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").cast(LongType).as("max_streak"),
          count(lit(1)).cast(LongType).as("n_islands"))
        .orderBy("user_id")
    },

    // ---- #168 audience overlap (pairwise Jaccard of user sets) -------------
    // |U_a ∩ U_b| / |U_a ∪ U_b| for every event-type pair — the audience
    // cross-over matrix. Facts collapse ONCE to the distinct (type, user)
    // grain; the pair intersection is a hash self-join of the GRAIN on
    // user (each user contributes its type pairs — never a fact-row
    // join); per-type sizes come from the same grain and broadcast onto
    // the ≤10 pair rows. Exact integers; one divide → round(·,4).
    "audience_overlap" -> OpDef(
      """WITH g AS (
        |  SELECT DISTINCT event_type AS t, user_id AS u FROM events),
        |c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1),
        |p AS (
        |  SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM g a JOIN g b ON a.u = b.u AND a.t < b.t
        |  GROUP BY 1, 2)
        |SELECT ta AS type_a, tb AS type_b, n_common,
        |  ca.n AS n_a, cb.n AS n_b,
        |  round(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 4)
        |    AS jaccard
        |FROM p JOIN c ca ON ca.t = p.ta JOIN c cb ON cb.t = p.tb
        |ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      // persist KEPT after the r17 two-scale audit: dropping it won at
      // sf0.1 (1.17 → 0.56 s — cache overhead dominates 11 MB inputs) but
      // lost 3.8× at sf10 (1.62 → 6.18 s, A/B at the r16 commit on the
      // same data): the pair join's null-filter pushdown makes the
      // marginal branch's subtree DIFFER from the join branches', so
      // runtime exchange reuse covers only the join sides and the corpus
      // distinct re-ran for the marginals. One grain pass is the 100 TB
      // shape; the persist is it.
      val g = graft.CacheRegistry.track(Tables(s, dir, "events")
        .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val c = g.groupBy("t").agg(count(lit(1)).as("n"))
      val p = g.as("a").join(g.as("b"),
          col("a.u") === col("b.u") && col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("ta"), col("b.t").as("tb"))
        .agg(count(lit(1)).as("n_common"))
      p.join(broadcast(c.select(col("t").as("ta"), col("n").as("n_a"))), "ta")
        .join(broadcast(c.select(col("t").as("tb"), col("n").as("n_b"))), "tb")
        .select(col("ta").as("type_a"), col("tb").as("type_b"),
          col("n_common").cast(LongType).as("n_common"),
          col("n_a").cast(LongType).as("n_a"),
          col("n_b").cast(LongType).as("n_b"),
          round(col("n_common").cast(DoubleType)
            / (col("n_a") + col("n_b") - col("n_common")), 4).as("jaccard"))
        .orderBy("type_a", "type_b")
    },

    // ---- #179 new-vs-returning user decomposition --------------------------
    // Per day: active users, first-seen-today users, returning users, and
    // the new-user share — the growth-accounting pass every product
    // dashboard leads with. Facts collapse to the distinct (user, day)
    // grain; each user's first day is a min window on the SAME
    // hashpartitioning(user) clustering; the day collapse is the only
    // second exchange. Pure integers + one divide → round(·,4).
    "user_newness" -> OpDef(
      """WITH dd AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |f AS (
        |  SELECT user_id, d,
        |    MIN(d) OVER (PARTITION BY user_id) AS first_d
        |  FROM dd)
        |SELECT CAST(d AS BIGINT) AS d,
        |  CAST(COUNT(*) AS BIGINT) AS active_users,
        |  CAST(COUNT(CASE WHEN d = first_d THEN 1 END) AS BIGINT) AS new_users,
        |  CAST(COUNT(CASE WHEN d > first_d THEN 1 END) AS BIGINT)
        |    AS returning_users,
        |  round(CAST(COUNT(CASE WHEN d = first_d THEN 1 END) AS DOUBLE)
        |    / COUNT(*), 4) AS new_ratio
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      // ONE user exchange: per-user distinct day set + first day come from
      // the same groupBy (a (user,day)-keyed distinct + user-keyed window
      // would exchange twice); the day list is calendar-bounded per user.
      val byUser = Tables(s, dir, "events")
        .select(col("user_id"), epochDay.as("d"))
        .groupBy("user_id")
        .agg(array_distinct(collect_list("d")).as("days"))
      val f = byUser.select(explode(col("days")).as("d"),
        array_min(col("days")).as("first_d"))
      f.groupBy("d").agg(
        count(lit(1)).cast(LongType).as("active_users"),
        count(when(col("d") === col("first_d"), 1)).cast(LongType)
          .as("new_users"),
        count(when(col("d") > col("first_d"), 1)).cast(LongType)
          .as("returning_users"),
        round(count(when(col("d") === col("first_d"), 1)).cast(DoubleType)
          / count(lit(1)), 4).as("new_ratio"))
        .orderBy("d")
    },

    // ---- #182 day-offset retention curve -----------------------------------
    // curve(o) = share of all users active o days after their own first
    // day — the cohortless retention curve (cohort_retention's (cohort ×
    // offset) matrix folded to its marginal). The user_newness shape: the
    // distinct day set AND the first day come from ONE user-keyed
    // aggregate (single exchange, calendar-bounded list) and offsets
    // explode from grain rows. The population size needs NO second pass:
    // every user is active at offset 0, so total ≡ n_active(0) — read by
    // a window over the ≤calendar-sized offset grain. One scan, zero
    // joins. Integers + one divide → round(·,4).
    "retention_curve" -> OpDef(
      """WITH dd AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |f AS (
        |  SELECT user_id, d - MIN(d) OVER (PARTITION BY user_id) AS o
        |  FROM dd),
        |g AS (SELECT o, CAST(COUNT(*) AS BIGINT) AS n FROM f GROUP BY 1)
        |SELECT CAST(o AS BIGINT) AS day_offset, n AS n_active,
        |  round(CAST(n AS DOUBLE)
        |    / MAX(CASE WHEN o = 0 THEN n END) OVER (), 4) AS retention
        |FROM g ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val byUser = Tables(s, dir, "events")
        .select(col("user_id"), epochDay.as("d"))
        .groupBy("user_id")
        .agg(array_distinct(collect_list("d")).as("days"))
      val g = byUser
        .select(explode(col("days")).as("d"),
          array_min(col("days")).as("first_d"))
        .select((col("d") - col("first_d")).as("o"))
        .groupBy("o").agg(count(lit(1)).as("n"))
      val total = max(when(col("o") === 0, col("n")))
        .over(Window.partitionBy())
      g.select(col("o").cast(LongType).as("day_offset"),
          col("n").cast(LongType).as("n_active"),
          round(col("n").cast(DoubleType) / total, 4).as("retention"))
        .orderBy("day_offset")
    },

    // ---- #183 inter-event gap survival function ----------------------------
    // S(h) = P(gap > h) per type at the five standard horizons (1 min,
    // 5 min, 30 min, 1 h, 6 h) — the tail view of interarrival_quantiles
    // and the direct input to timeout/session-gap tuning. The lag rides
    // ONE hashpartitioning(user_id) exchange; ALL horizons ride ONE
    // conditional partial agg (value_cdf_probes discipline) and stack by
    // inline explode. Exact integer µs comparisons; one divide →
    // round(·,4).
    "gap_survival" -> OpDef(
      """WITH e AS (
        |  SELECT event_type AS t, user_id, epoch_us(ts) AS us, event_id
        |  FROM events),
        |l AS (
        |  SELECT t, us - lag(us) OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
        |  FROM e),
        |f AS (SELECT t, gap_us FROM l WHERE gap_us IS NOT NULL),
        |m AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(CASE WHEN gap_us > 60000000 THEN 1 END) AS BIGINT) AS gt_60,
        |    CAST(COUNT(CASE WHEN gap_us > 300000000 THEN 1 END) AS BIGINT) AS gt_300,
        |    CAST(COUNT(CASE WHEN gap_us > 1800000000 THEN 1 END) AS BIGINT) AS gt_1800,
        |    CAST(COUNT(CASE WHEN gap_us > 3600000000 THEN 1 END) AS BIGINT) AS gt_3600,
        |    CAST(COUNT(CASE WHEN gap_us > 21600000000 THEN 1 END) AS BIGINT) AS gt_21600
        |  FROM f GROUP BY 1),
        |u AS (
        |  SELECT t, n, 60 AS horizon_s, gt_60 AS n_gt FROM m
        |  UNION ALL SELECT t, n, 300, gt_300 FROM m
        |  UNION ALL SELECT t, n, 1800, gt_1800 FROM m
        |  UNION ALL SELECT t, n, 3600, gt_3600 FROM m
        |  UNION ALL SELECT t, n, 21600, gt_21600 FROM m)
        |SELECT t AS event_type, CAST(horizon_s AS BIGINT) AS horizon_s, n_gt,
        |  round(CAST(n_gt AS DOUBLE) / n, 4) AS survival
        |FROM u ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val horizons = Seq(60L, 300L, 1800L, 3600L, 21600L)
      val lagW = Window.partitionBy("user_id").orderBy("us", "event_id")
      val f = Tables(s, dir, "events")
        .select(col("event_type").as("t"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_id"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(lagW))
        .filter(col("gap_us").isNotNull)
      val m = f.groupBy("t")
        .agg(count(lit(1)).as("n"),
          horizons.map(h =>
            count(when(col("gap_us") > h * 1000000L, 1)).as(s"gt_$h")): _*)
      m.select(col("t"), col("n"), explode(array(horizons.map(h =>
          struct(lit(h).as("horizon_s"), col(s"gt_$h").as("n_gt"))): _*)).as("p"))
        .select(col("t").as("event_type"),
          col("p.horizon_s").cast(LongType).as("horizon_s"),
          col("p.n_gt").cast(LongType).as("n_gt"),
          round(col("p.n_gt").cast(DoubleType) / col("n"), 4).as("survival"))
        .orderBy("event_type", "horizon_s")
    },

    // ---- #185 active-days engagement histogram -----------------------------
    // How many users were active exactly k distinct days? The engagement
    // frequency histogram behind DAU/MAU-style stickiness. ONE user-keyed
    // aggregate builds the distinct day count (calendar-bounded), the
    // histogram is a second ≤calendar-sized collapse, and the share rides
    // a grain window. Pure integers + one divide → round(·,4).
    "active_days_hist" -> OpDef(
      """WITH dd AS (
        |  SELECT user_id, CAST(COUNT(DISTINCT
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS BIGINT)
        |    AS k
        |  FROM events GROUP BY 1),
        |g AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_users FROM dd GROUP BY 1)
        |SELECT k AS n_days_active, n_users,
        |  round(CAST(n_users AS DOUBLE) / SUM(n_users) OVER (), 4) AS share
        |FROM g ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      // size(array_distinct(collect_list)) = ONE user exchange; a
      // countDistinct agg would plan the (user, d) pre-distinct as a
      // second exchange. The list is calendar-bounded per user.
      val dd = Tables(s, dir, "events")
        .select(col("user_id"), epochDay.as("d"))
        .groupBy("user_id")
        .agg(size(array_distinct(collect_list("d"))).cast(LongType).as("k"))
      val g = dd.groupBy("k").agg(count(lit(1)).as("n_users"))
      g.select(col("k").cast(LongType).as("n_days_active"),
          col("n_users").cast(LongType).as("n_users"),
          round(col("n_users").cast(DoubleType)
            / sum("n_users").over(Window.partitionBy()), 4).as("share"))
        .orderBy("n_days_active")
    },

    // ---- #191 first-touch attribution × conversion -------------------------
    // Per first-ever event type: how many users started there, and how
    // many of them ever purchased — the first-touch attribution table.
    // ONE user-keyed aggregate carries BOTH facts (argmin by exact
    // (µs, event_id) via a struct min — deterministic under ties — and a
    // conditional any); the attribution grain is a second ≤5-row
    // collapse. Integers + one divide → round(·,4).
    "first_touch_conversion" -> OpDef(
      """WITH e AS (
        |  SELECT user_id, event_type AS t, epoch_us(ts) AS us, event_id
        |  FROM events),
        |u AS (
        |  SELECT user_id,
        |    first(t ORDER BY us, event_id) AS first_type,
        |    MAX(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM e GROUP BY 1)
        |SELECT first_type, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted,
        |  round(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 4) AS cvr
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val u = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type").as("t"),
          expr("unix_micros(ts)").as("us"), col("event_id"))
        .groupBy("user_id")
        .agg(
          min(struct(col("us"), col("event_id"), col("t")))
            .getField("t").as("first_type"),
          max(when(col("t") === "purchase", 1).otherwise(0)).as("conv"))
      u.groupBy("first_type")
        .agg(count(lit(1)).cast(LongType).as("n_users"),
          sum("conv").cast(LongType).as("n_converted"),
          round(sum("conv").cast(DoubleType) / count(lit(1)), 4).as("cvr"))
        .orderBy("first_type")
    },

    // ---- #192 conversion rate by k-decile ----------------------------------
    // P(event is a purchase | k-decile) — the score-band conversion curve
    // feature screens read next to cat_iv. ONE conditional partial agg to
    // the ≤10-row decile grain (agg_if discipline): one fact exchange,
    // zero windows, zero joins; one divide → round(·,4).
    "conversion_by_decile" -> OpDef(
      """WITH f AS (
        |  SELECT CAST(json_extract_string(props, 'k') AS BIGINT) // 10 AS b,
        |    event_type AS t
        |  FROM events
        |  WHERE json_extract_string(props, 'k') IS NOT NULL)
        |SELECT b AS decile, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(CASE WHEN t = 'purchase' THEN 1 END) AS BIGINT)
        |    AS n_purchase,
        |  round(CAST(COUNT(CASE WHEN t = 'purchase' THEN 1 END) AS DOUBLE)
        |    / COUNT(*), 4) AS purchase_rate
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      // project the JSON field ONCE, then filter/bucket the extracted
      // column — the filter-on-raw-props spelling parsed every row's
      // props twice (r13; at sf10 the double parse is the scan's cost)
      Tables(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").as("ks"),
          col("event_type").as("t"))
        .filter(col("ks").isNotNull)
        .select(parity.floorDiv(col("ks").cast(LongType), 10).as("b"), col("t"))
        .groupBy("b")
        .agg(count(lit(1)).cast(LongType).as("n"),
          count(when(col("t") === "purchase", 1)).cast(LongType)
            .as("n_purchase"),
          round(count(when(col("t") === "purchase", 1)).cast(DoubleType)
            / count(lit(1)), 4).as("purchase_rate"))
        .select(col("b").as("decile"), col("n"), col("n_purchase"),
          col("purchase_rate"))
        .orderBy("decile")
    },

    // ---- #201 events-per-user engagement histogram -------------------------
    // Users bucketed by power-of-two event count — active_days_hist's
    // volume twin (how heavy-tailed is per-user activity?). ONE user
    // collapse, bucket = bit LENGTH (log2_histogram discipline), share
    // over the ≤30-cell grain → round(·,4).
    "events_per_user_hist" -> OpDef(
      """WITH u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT CAST(length(printf('%b', k)) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(k) AS BIGINT) AS n_events
        |  FROM u GROUP BY 1)
        |SELECT bucket, n_users, n_events,
        |  round(CAST(n_users AS DOUBLE) / SUM(n_users) OVER (), 4) AS share
        |FROM g ORDER BY bucket""".stripMargin
    ) { (s, dir) =>
      val u = Tables(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("k"))
      val g = u.groupBy(length(bin(col("k"))).cast(LongType).as("bucket"))
        .agg(count(lit(1)).cast(LongType).as("n_users"),
          sum("k").cast(LongType).as("n_events"))
      g.select(col("bucket"), col("n_users"), col("n_events"),
          round(col("n_users").cast(DoubleType)
            / sum("n_users").over(Window.partitionBy()), 4).as("share"))
        .orderBy("bucket")
    },

    // ---- #226 multi-condition retention (CH retention() combinator) --------
    // CH's retention(c1, c2, c3): per user, r1 = did c1; rK = did c1 AND
    // did cK — each later condition counts only against the anchor. ONE
    // user collapse with three bool_or partials (6 bytes of state per
    // user), then a one-row global fold; ratios are single divides of
    // exact integers → round(·,4). The #53 retention is the calendar
    // variant; this is the condition-combinator surface. The later
    // conditions carry value thresholds so the ratios discriminate
    // (unconditioned, every user at test SF trips all three types).
    "retention_conditions" -> OpDef(
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c1,
        |    MAX(CASE WHEN event_type = 'click' AND value > 95
        |      THEN 1 ELSE 0 END) AS c2,
        |    MAX(CASE WHEN event_type = 'purchase' AND value > 99
        |      THEN 1 ELSE 0 END) AS c3
        |  FROM events GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(c1) AS BIGINT) AS r1,
        |  CAST(SUM(c1 * c2) AS BIGINT) AS r2,
        |  CAST(SUM(c1 * c3) AS BIGINT) AS r3,
        |  round(CAST(SUM(c1 * c2) AS DOUBLE) / SUM(c1), 4) AS r2_ratio,
        |  round(CAST(SUM(c1 * c3) AS DOUBLE) / SUM(c1), 4) AS r3_ratio
        |FROM u""".stripMargin
    ) { (s, dir) =>
      def did(t: String): Column =
        max(when(col("event_type") === t, 1).otherwise(0))
      val u = Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(did("signup").as("c1"),
          max(when(col("event_type") === "click" && col("value") > 95, 1)
            .otherwise(0)).as("c2"),
          max(when(col("event_type") === "purchase" && col("value") > 99, 1)
            .otherwise(0)).as("c3"))
      u.agg(count(lit(1)).cast(LongType).as("n_users"),
        sum("c1").cast(LongType).as("r1"),
        sum(col("c1") * col("c2")).cast(LongType).as("r2"),
        sum(col("c1") * col("c3")).cast(LongType).as("r3"),
        round(sum(col("c1") * col("c2")).cast(DoubleType) / sum("c1"), 4)
          .as("r2_ratio"),
        round(sum(col("c1") * col("c3")).cast(DoubleType) / sum("c1"), 4)
          .as("r3_ratio"))
    },

    // ---- #237 RFM segmentation ---------------------------------------------
    // Classic recency/frequency/monetary quartile coding per customer,
    // reported at the segment grain (≤4³ rows). The scale discipline is
    // what makes this an operator and not a notebook cell: quartile
    // CUTPOINTS come from exact rank selection over each metric's VALUE
    // grain (days / order counts / whole dollars — all domain-bounded,
    // never one-row-per-customer ntile, which is a partition-less window
    // over the full customer set and dies at 100 TB), broadcast as one
    // 1-row frame per metric, and codes are plain comparisons riding the
    // customer collapse. Monetary totals sum EXACTLY in DECIMAL cents
    // (§5) and coarsen to whole dollars (truncating div on a positive
    // domain — '//' vs 'div' agree, the r8-advice divergence can't bite).
    // Code k ∈ 1..4 = 1 + #{cutpoints strictly below the value}, so code
    // 4 = largest values (most orders / most spend / LONGEST ago for
    // recency — mechanical, documented, engine-identical).
    "rfm_segments" -> OpDef(
      """WITH c AS (
        |  SELECT o_custkey,
        |    CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) // 100 AS BIGINT) AS mon,
        |    CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS lastd
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS dmax FROM orders),
        |cm AS (
        |  SELECT o_custkey, freq, mon,
        |    CAST(datediff('day', lastd, dmax) AS BIGINT) AS rec
        |  FROM c CROSS JOIN mx),
        |nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cm),
        |gr AS (SELECT rec AS v, COUNT(*) AS cnt FROM cm GROUP BY 1),
        |wr AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM gr),
        |qr AS (SELECT
        |    MIN(CASE WHEN cum * 4 >= n THEN v END) AS q1,
        |    MIN(CASE WHEN cum * 2 >= n THEN v END) AS q2,
        |    MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
        |  FROM wr CROSS JOIN nr),
        |gf AS (SELECT freq AS v, COUNT(*) AS cnt FROM cm GROUP BY 1),
        |wf AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM gf),
        |qf AS (SELECT
        |    MIN(CASE WHEN cum * 4 >= n THEN v END) AS q1,
        |    MIN(CASE WHEN cum * 2 >= n THEN v END) AS q2,
        |    MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
        |  FROM wf CROSS JOIN nr),
        |gm AS (SELECT mon AS v, COUNT(*) AS cnt FROM cm GROUP BY 1),
        |wm AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM gm),
        |qm AS (SELECT
        |    MIN(CASE WHEN cum * 4 >= n THEN v END) AS q1,
        |    MIN(CASE WHEN cum * 2 >= n THEN v END) AS q2,
        |    MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
        |  FROM wm CROSS JOIN nr)
        |SELECT
        |  CAST(1 + CAST(rec > qr.q1 AS INTEGER) + CAST(rec > qr.q2 AS INTEGER) + CAST(rec > qr.q3 AS INTEGER) AS BIGINT)
        |    AS r_code,
        |  CAST(1 + CAST(freq > qf.q1 AS INTEGER) + CAST(freq > qf.q2 AS INTEGER) + CAST(freq > qf.q3 AS INTEGER) AS BIGINT)
        |    AS f_code,
        |  CAST(1 + CAST(mon > qm.q1 AS INTEGER) + CAST(mon > qm.q2 AS INTEGER) + CAST(mon > qm.q3 AS INTEGER) AS BIGINT)
        |    AS m_code,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  round(CAST(SUM(mon) AS DOUBLE) / COUNT(*), 4) AS avg_monetary_usd
        |FROM cm CROSS JOIN qr CROSS JOIN qf CROSS JOIN qm
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    ) { (s, dir) =>
      val ordersT = Tables(s, dir, "orders")
      val mx = ordersT.agg(max(col("o_orderdate").cast(DateType)).as("dmax"))
      // cm feeds five consumers (nr, three cuts, the final coding pass),
      // but its root is the custkey agg EXCHANGE — ReuseExchange already
      // computes that subtree once and shares it physically, so a persist
      // here only adds cache-build + columnar read overhead (measured r17:
      // 1.56 s → 3.67 s with MEMORY_AND_DISK persist — reverted).
      val cm = ordersT.groupBy("o_custkey")
        .agg(count(lit(1)).cast(LongType).as("freq"),
          sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType)).as("cents"),
          max(col("o_orderdate").cast(DateType)).as("lastd"))
        .crossJoin(broadcast(mx))
        .select(col("o_custkey"), col("freq"),
          expr("cents div 100").as("mon"),
          datediff(col("dmax"), col("lastd")).cast(LongType).as("rec"))
      val nr = cm.agg(count(lit(1)).as("n"))
      def cuts(metric: String, pre: String): DataFrame = {
        // Exact cumulative counts WITHOUT a grain-wide partition-less
        // window (r10: the monetary grain is ≈ one distinct dollar total
        // per customer — 420k at sf3 — so it OUTGROWS the single-task
        // regime the other grain windows are pinned to). Two-level
        // prefix: bucket the grain into 1024-wide ranges, prefix-sum the
        // bucket TOTALS on the bucket grain (range/1024 rows — 5,895 at
        // sf3, audited by the rfm CapacityPin), then add the
        // within-bucket prefix under partitionBy(bucket), whose
        // partitions hold ≤ 1024 integer values BY CONSTRUCTION. Every
        // pass is bounded or partitioned — the shape that survives an
        // unbounded customer count.
        val g = cm.groupBy(col(metric).as("v")).agg(count(lit(1)).as("cnt"))
          .withColumn("bk", expr("v div 1024"))
        val bt = g.groupBy("bk").agg(sum("cnt").as("bcnt"))
          .withColumn("boff",
            sum("bcnt").over(Window.orderBy("bk")) - col("bcnt"))
          .select("bk", "boff")
        g.join(broadcast(bt), "bk")
          .withColumn("cum", col("boff") +
            sum("cnt").over(Window.partitionBy("bk").orderBy("v")))
          .crossJoin(broadcast(nr))
          .agg(
            min(when(col("cum") * 4 >= col("n"), col("v"))).as(s"${pre}1"),
            min(when(col("cum") * 2 >= col("n"), col("v"))).as(s"${pre}2"),
            min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as(s"${pre}3"))
      }
      def code(metric: String, pre: String): Column =
        (lit(1) + (col(metric) > col(s"${pre}1")).cast(LongType)
          + (col(metric) > col(s"${pre}2")).cast(LongType)
          + (col(metric) > col(s"${pre}3")).cast(LongType)).as(s"${metric.take(1)}_code")
      cm.crossJoin(broadcast(cuts("rec", "rq")))
        .crossJoin(broadcast(cuts("freq", "fq")))
        .crossJoin(broadcast(cuts("mon", "mq")))
        .select(code("rec", "rq"), code("freq", "fq"), code("mon", "mq"),
          col("mon"))
        .groupBy("r_code", "f_code", "m_code")
        .agg(count(lit(1)).cast(LongType).as("n_customers"),
          round(sum("mon").cast(DoubleType) / count(lit(1)), 4)
            .as("avg_monetary_usd"))
        .orderBy("r_code", "f_code", "m_code")
    },

    // ---- #238 signup→purchase conversion-lag quantiles ---------------------
    // Exact p25/p50/p75 of the seconds between a user's FIRST signup and
    // their first purchase strictly after it. Two user-keyed collapses on
    // the SAME hashpartitioning(user_id) clustering (anchor min rides a
    // conditional agg; the purchase side pre-filters to one event type at
    // the scan before the join), then the bank's value-grain quantile
    // discipline over integer lag-seconds (grain bounded by the time
    // domain, never one row per user). Microsecond integers end to end;
    // '// 1000000' on a strictly-positive lag, so floor-vs-truncate
    // cannot diverge.
    "conversion_lag_quantiles" -> OpDef(
      """WITH su AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS s_us FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (
        |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > su.s_us
        |  GROUP BY 1),
        |lag_g AS (
        |  SELECT (pu.p_us - su.s_us) // 1000000 AS lag_s,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM pu JOIN su ON pu.user_id = su.user_id GROUP BY 1),
        |w AS (
        |  SELECT lag_s, cnt, SUM(cnt) OVER (ORDER BY lag_s) AS cum,
        |    SUM(cnt) OVER () AS n
        |  FROM lag_g)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_users,
        |  CAST(MIN(CASE WHEN cum * 4 >= n THEN lag_s END) AS BIGINT) AS p25_s,
        |  CAST(MIN(CASE WHEN cum * 2 >= n THEN lag_s END) AS BIGINT) AS p50_s,
        |  CAST(MIN(CASE WHEN cum * 4 >= n * 3 THEN lag_s END) AS BIGINT) AS p75_s
        |FROM w""".stripMargin
    ) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("s_us"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .join(su, "user_id")
        .filter(col("us") > col("s_us"))
        .groupBy("user_id").agg(min("us").as("p_us"), min("s_us").as("s_us"))
      val lagG = pu
        .select(expr("(p_us - s_us) div 1000000").as("lag_s"))
        .groupBy("lag_s").agg(count(lit(1)).as("cnt"))
      val w = lagG
        .withColumn("cum", sum("cnt").over(Window.orderBy("lag_s")))
        .withColumn("n", sum("cnt").over(
          Window.orderBy("lag_s").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      def sel(num: Int, den: Int): Column =
        min(when(col("cum") * den >= col("n") * num, col("lag_s")))
          .cast(LongType)
      w.agg(max("n").cast(LongType).as("n_users"),
        sel(1, 4).as("p25_s"), sel(1, 2).as("p50_s"), sel(3, 4).as("p75_s"))
    },

    // ---- #239 dwell time by event type -------------------------------------
    // Session-style dwell: the gap from each event to the SAME user's next
    // event (any type), capped at 30 min (beyond = session break, excluded
    // — the sessionize_batch convention), attributed to the FIRST event's
    // type. One lead window on the (µs, event_id) total order riding one
    // hashpartitioning(user_id) shuffle, then a ≤5-row type collapse.
    // Integer microsecond sums are exact and order-independent; the
    // average is the single double divide → round(·,4).
    "dwell_time_by_type" -> OpDef(
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events),
        |d AS (
        |  SELECT event_type,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
        |      AS dwell_us
        |  FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_dwells,
        |  CAST(SUM(dwell_us) // 1000000 AS BIGINT) AS total_s,
        |  round(CAST(SUM(dwell_us) AS DOUBLE) / COUNT(*) / 1000000, 4)
        |    AS avg_s
        |FROM d
        |WHERE dwell_us IS NOT NULL AND dwell_us <= 1800 * 1000000
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val e = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val d = e.withColumn("dwell_us",
        lead("us", 1).over(
          Window.partitionBy("user_id").orderBy("us", "event_id"))
          - col("us"))
      d.filter(col("dwell_us").isNotNull &&
          col("dwell_us") <= lit(1800L * 1000000L))
        .groupBy("event_type")
        .agg(count(lit(1)).cast(LongType).as("n_dwells"),
          expr("sum(dwell_us) div 1000000").as("total_s"),
          round(sum("dwell_us").cast(DoubleType) / count(lit(1)) / 1000000, 4)
            .as("avg_s"))
        .orderBy("event_type")
    },

    // ---- #258 DAU / trailing-30d MAU stickiness ----------------------------
    // The canonical engagement ratio, computed without any sliding
    // count-distinct (Spark has none): facts collapse ONCE to the
    // distinct (user, day) grain; each grain row then contributes its
    // user to the ≤30 window-end days it can serve (a bounded explode of
    // the GRAIN, never fact rows — the hopping-window move), and MAU is a
    // second distinct collapse at the (window-end, user) grain. DAU joins
    // from the same first grain; ratio = one divide → round(·,4). Only
    // days with events report (both engines agree on the domain).
    "dau_mau_stickiness" -> OpDef(
      """WITH dd AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM dd GROUP BY 1),
        |contrib AS (
        |  SELECT DISTINCT dd.user_id, dd.d + o.off AS wd
        |  FROM dd, (SELECT unnest(generate_series(0, 29)) AS off) o),
        |mau AS (
        |  SELECT wd, CAST(COUNT(*) AS BIGINT) AS mau FROM contrib
        |  GROUP BY 1),
        |j AS (
        |  SELECT dau.d, dau.dau, mau.mau
        |  FROM dau JOIN mau ON mau.wd = dau.d)
        |SELECT CAST(d AS BIGINT) AS d, dau, mau,
        |  round(CAST(dau AS DOUBLE) / mau, 4) AS stickiness
        |FROM j ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val dd = Tables(s, dir, "events")
        .select(col("user_id"), epochDay.as("d")).distinct()
      val dau = dd.groupBy("d").agg(count(lit(1)).cast(LongType).as("dau"))
      val offsets = broadcast(s.range(0, 30).toDF("off"))
      val mau = dd.crossJoin(offsets)
        .select(col("user_id"), (col("d") + col("off")).as("wd"))
        .distinct()
        .groupBy("wd").agg(count(lit(1)).cast(LongType).as("mau"))
      dau.join(mau, dau("d") === mau("wd"))
        .select(col("d").cast(LongType).as("d"), col("dau"), col("mau"),
          round(col("dau").cast(DoubleType) / col("mau"), 4)
            .as("stickiness"))
        .orderBy("d")
    },

    // ---- #259 nearest-event join -------------------------------------------
    // For every error event: the same user's NEAREST click by |Δt| (the
    // bidirectional sibling of the #21 backward-only ASOF JOIN — CH's
    // ASOF >= can't express "closest either side"). ONE window pass over
    // ONE hashpartitioning(user_id) clustering: a conditional click
    // timestamp column + last/first IGNORE NULLS frames give each error
    // its bracketing clicks; nearest = the smaller |Δt|, ties prefer the
    // EARLIER click (deterministic, engine-identical integer compare).
    // No join node at all — the mixed stream is its own dimension.
    "nearest_event_join" -> OpDef(
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
        |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS cus
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_type, event_id, us,
        |    last_value(cus IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
        |    first_value(cus IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c
        |  FROM e)
        |SELECT event_id, user_id,
        |  CAST(CASE
        |    WHEN prev_c IS NULL AND next_c IS NULL THEN NULL
        |    WHEN prev_c IS NULL THEN next_c - us
        |    WHEN next_c IS NULL THEN us - prev_c
        |    WHEN us - prev_c <= next_c - us THEN us - prev_c
        |    ELSE next_c - us END // 1000000 AS BIGINT) AS nearest_click_s
        |FROM w WHERE event_type = 'error' ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val e = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("cus",
          when(col("event_type") === "click", col("us")))
      val ord = Window.partitionBy("user_id").orderBy("us", "event_id")
      val w = e
        .withColumn("prev_c", last("cus", ignoreNulls = true).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("next_c", first("cus", ignoreNulls = true).over(
          ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      val gap = when(col("prev_c").isNull && col("next_c").isNull,
          lit(null).cast(LongType))
        .when(col("prev_c").isNull, col("next_c") - col("us"))
        .when(col("next_c").isNull, col("us") - col("prev_c"))
        .when(col("us") - col("prev_c") <= col("next_c") - col("us"),
          col("us") - col("prev_c"))
        .otherwise(col("next_c") - col("us"))
      w.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), gap.as("g"))
        // g >= 0 always, so truncating div == floor == DuckDB '//'
        .select(col("event_id"), col("user_id"),
          expr("g div 1000000").as("nearest_click_s"))
        .orderBy("event_id")
    }
  )
}
