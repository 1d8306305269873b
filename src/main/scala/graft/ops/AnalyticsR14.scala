package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CapacityPins, OpDef}
import graft.sources.Tables

/** SURVEY §2 #306-#308 — r14 additions: mergeable distinct-set algebra
  * (the CH uniqTheta family), relational division, and time-decayed
  * trending heavy hitters.
  *
  * Same parity discipline as the rest of the bank (SURVEY §5): exact
  * integers end-to-end wherever the semantics allow (two of the three ops
  * emit NOTHING but integers + one final divide), and the sketch op is
  * pinned to its exact regime at the gate SFs ([[graft.CapacityPins]])
  * with an error-window spec covering the sub-capacity regime.
  */
object AnalyticsR14 {

  /** Integer epoch-day of the event timestamp (exact on both engines). */
  private val epochDay =
    datediff(col("ts").cast(DateType), to_date(lit("1970-01-01")))
      .cast(LongType)

  private val epochDaySql =
    "datediff('day', DATE '1970-01-01', CAST(ts AS DATE))"

  /** The pairwise KMV set-algebra read-out — (n_a, n_b, n_union,
    * n_intersect) from two retained-hash arrays. Factored out of
    * `uniq_theta_ops` so the saturated-regime error window (which the
    * exact-regime oracle can never reach) is pinned on the SAME column
    * spelling by AnalyticsR14Spec. Estimators are Beyer et al.:
    * n̂∪ = (k−1)·H/θ over the k-size union synopsis, and
    * n̂∩ = ρ̂·n̂∪ with ρ̂ = count_below_θ / k — both carry the (k−1)
    * bias correction consistently (r14 ADVICE).
    */
  def kmvPairAlgebra(ska: Column, skb: Column, k: Int): Seq[Column] = {
    val kL = lit(k)
    val hSpace = lit(graft.functions.KmvAgg.HashSpace)
    def est(arr: Column): Column = graft.functions.GraftFunctions.kmvEstimate(arr, k)
    val u = array_sort(array_union(ska, skb))
    val inter = array_intersect(ska, skb)
    val exact = (size(ska) < kL) && (size(skb) < kL)
    val thetaU = try_element_at(u, kL)
    Seq(
      est(ska).as("n_a"), est(skb).as("n_b"),
      when(exact, size(u).cast(LongType))
        .otherwise(round(lit((k - 1).toDouble) * hSpace
          / thetaU.cast(DoubleType)).cast(LongType)).as("n_union"),
      when(exact, size(inter).cast(LongType))
        .otherwise(round(size(filter(inter, x => x < thetaU))
          .cast(DoubleType) * lit((k - 1).toDouble / k)
          * hSpace / thetaU.cast(DoubleType))
          .cast(LongType)).as("n_intersect"))
  }

  val defs: Map[String, OpDef] = Map(
    // ---- #306 KMV theta-sketch distinct-set algebra ------------------------
    // CH's uniqTheta + uniqThetaUnion/Intersect surface: per-type KMV
    // sketches of the user-hash domain, then |A|, |B|, |A∪B|, |A∩B| and
    // Jaccard for every type pair FROM THE SKETCHES. Scale shape: the fact
    // table folds ONCE into |types| O(k)-byte sketch cells (bottom-k is
    // associative/commutative, so map-side partials merge loss-free —
    // KmvAgg scaladoc); the pair algebra runs on the ≤C(|types|,2) retained
    // arrays with array built-ins, never a fact self-join (compare
    // audience_overlap, which re-shuffles the fact grain per pair family —
    // this is the one-pass mergeable form a 100 TB store keeps LIVE).
    // Exactness: with k ≥ distinct users/type (CapacityPins.KmvCap pin,
    // 2^18 ≥ the 150k sf10 measurement) every sketch retains its FULL hash
    // set, so all five outputs are exact and the oracle hash-pins them;
    // past the cap the same columns switch to the (k−1)·H/θ estimator
    // (KmvSketchSpec pins the error window the oracle can't reach).
    "uniq_theta_ops" -> OpDef(
      """WITH u AS (
        |  SELECT DISTINCT event_type AS t,
        |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
        |  FROM events),
        |n AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY 1),
        |pr AS (
        |  SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS n_int
        |  FROM u a JOIN u b ON a.h = b.h AND a.t < b.t
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT na.t AS type_a, nb.t AS type_b, na.n AS n_a, nb.n AS n_b,
        |    COALESCE(pr.n_int, 0) AS n_int
        |  FROM n na JOIN n nb ON na.t < nb.t
        |  LEFT JOIN pr ON pr.type_a = na.t AND pr.type_b = nb.t)
        |SELECT type_a, type_b, n_a, n_b,
        |  n_a + n_b - n_int AS n_union, n_int AS n_intersect,
        |  round(CAST(n_int AS DOUBLE) / (n_a + n_b - n_int), 6) AS jaccard
        |FROM pairs ORDER BY type_a, type_b""".stripMargin
    ) { (s, dir) =>
      val k = CapacityPins.KmvCap
      val h = parity.md5Long(col("user_id").cast(StringType))
      // persist KEPT after the r17 two-scale audit: dropping it was flat
      // at sf0.1 but 1.9× SLOWER at sf10 (2.46 → 4.77 s, A/B at the r16
      // commit on the same data) — the broadcast pair-join side's subtree
      // is pruned/planned differently enough that runtime exchange reuse
      // does not cover it and the fact aggregation re-ran. One fact pass
      // is the 100 TB shape (CacheRegistry discipline; production callers
      // release via Graft.releaseCaches()).
      val sk = graft.CacheRegistry.track(
        Tables(s, dir, "events")
          .select(col("event_type"), h.as("h"))
          .groupBy("event_type")
          .agg(call_function("kmv_sketch", col("h"), lit(k)).as("sk"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // pair grain: ≤C(|types|,2) rows of O(k) arrays — metadata-sized, so
      // the broadcast cross join is the right plan (1-row-agg discipline
      // widened to the bounded |types| grain)
      val pr = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
        .crossJoin(broadcast(
          sk.select(col("event_type").as("type_b"), col("sk").as("skb"))))
        .filter(col("type_a") < col("type_b"))
      pr.select(col("type_a") +: col("type_b") +:
          kmvPairAlgebra(col("ska"), col("skb"), k): _*)
        .withColumn("jaccard",
          round(col("n_intersect").cast(DoubleType) / col("n_union"), 6))
        .orderBy("type_a", "type_b")
    },

    // ---- #309 uniqTheta -State/-Merge re-aggregation -----------------------
    // The #91 (uniqUpTo) / #86 (topK) / #284 (corr) discipline extended to
    // the KMV sketch: per-(type, day) `kmv_sketch` cells roll up per type
    // via `kmv_merge`. Bottom-k union is loss-free w.r.t. the retained
    // set (every member of the merged bottom-k is in its cell's bottom-k),
    // so merge-of-cells ≡ one-pass EXACTLY in both regimes — which is how
    // a 100 TB sink keeps live distinct counts per flush without
    // rescanning history. Exact regime at the gate SFs (KmvCap pin) makes
    // the oracle a COUNT(DISTINCT) — over the SAME 60-bit md5 hash domain
    // the sketch folds (r14 ADVICE: counting raw ids on the oracle side
    // would break parity on a single in-type hash collision; the sibling
    // ops fold hashes on both engines, so this one does too).
    "uniq_theta_reagg" -> OpDef(
      s"""SELECT event_type,
        |  CAST(COUNT(DISTINCT ${parity.md5LongSql("CAST(user_id AS VARCHAR)")})
        |    AS BIGINT) AS n_uniq
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val k = CapacityPins.KmvCap
      val h = parity.md5Long(col("user_id").cast(StringType))
      val cells = Tables(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(call_function("kmv_sketch", h.as("h"), lit(k)).as("sk"))
      cells.groupBy("event_type")
        .agg(call_function("kmv_merge", col("sk"), lit(k)).as("sk"))
        .select(col("event_type"),
          graft.functions.GraftFunctions.kmvEstimate(col("sk"), k).as("n_uniq"))
        .orderBy("event_type")
    },

    // ---- #307 relational division: users covering the full DOW domain -----
    // The classic "suppliers who stock EVERY part" operator over the
    // behavioral domain: per type, the users active on ALL SEVEN
    // days-of-week — division of the (type, user, dow) relation by the
    // FIXED 7-value divisor. Scale shape: one (type, user) exchange
    // collapsing to a coverage count (countDistinct over a ≤7-value
    // column partial-aggregates map-side), then a ≤|types| read-out;
    // the divisor never joins as data. dow = epoch-day mod 7 — pure
    // integer, engine-identical (both mod operands non-negative);
    // user_id_sum pins the exact covering SET, not just its size (the
    // semdedup kept_id_sum discipline).
    "relational_division" -> OpDef(
      s"""WITH e AS (
        |  SELECT event_type AS t, user_id, $epochDaySql % 7 AS dw
        |  FROM events),
        |u AS (
        |  SELECT t, user_id, COUNT(DISTINCT dw) AS nd
        |  FROM e GROUP BY 1, 2)
        |SELECT t AS event_type, CAST(COUNT(*) AS BIGINT) AS n_covering_users,
        |  CAST(MIN(user_id) AS BIGINT) AS min_user,
        |  CAST(MAX(user_id) AS BIGINT) AS max_user,
        |  CAST(SUM(user_id) AS BIGINT) AS user_id_sum
        |FROM u WHERE nd = 7 GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val u = Tables(s, dir, "events")
        .select(col("event_type").as("t"), col("user_id"),
          pmod(epochDay, lit(7L)).as("dw"))
        .groupBy("t", "user_id")
        .agg(countDistinct(col("dw")).as("nd"))
        .filter(col("nd") === 7)
      u.groupBy(col("t").as("event_type"))
        .agg(count(lit(1)).cast(LongType).as("n_covering_users"),
          min("user_id").cast(LongType).as("min_user"),
          max("user_id").cast(LongType).as("max_user"),
          sum("user_id").cast(LongType).as("user_id_sum"))
        .orderBy("event_type")
    },

    // ---- #308 time-decayed trending heavy hitters --------------------------
    // "What's trending NOW": per type, top-5 users by exponentially
    // time-decayed activity (half-life 1 day, anchored at the type's last
    // active day). The decay weight is an EXACT INTEGER: 2^(31−gap) for
    // gap ≤ 31 days else 0 — a left shift on both engines, so rank order
    // is deterministic arithmetic, never an ulp race between two float
    // folds (the exp_time_decayed_sum lesson, hardened: that op rounds
    // its sums; a top-k must not rank on values that can tie-break
    // differently per engine). Scale shape: per-type last day is a
    // ≤|types|-row broadcast (not a fact-grain window); ONE (type, user)
    // exchange folds the weights map-side; top-5 rides a window over the
    // collapsed grain with a (w desc, user asc) total order.
    "trending_topk" -> OpDef(
      s"""WITH ld AS (
        |  SELECT event_type AS t, MAX($epochDaySql) AS last_d
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT e.event_type AS t, e.user_id,
        |    CAST(SUM(CASE WHEN ld.last_d - $epochDaySql <= 31
        |      THEN (CAST(1 AS BIGINT) << (31 - (ld.last_d - $epochDaySql)))
        |      ELSE 0 END) AS BIGINT) AS decayed_w
        |  FROM events e JOIN ld ON ld.t = e.event_type
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT t, user_id, decayed_w,
        |    row_number() OVER (PARTITION BY t
        |                       ORDER BY decayed_w DESC, user_id) AS rk
        |  FROM w WHERE decayed_w > 0)
        |SELECT t AS event_type, CAST(rk AS BIGINT) AS rank,
        |  CAST(user_id AS BIGINT) AS user_id, decayed_w
        |FROM r WHERE rk <= 5 ORDER BY t, rk""".stripMargin
    ) { (s, dir) =>
      val ev = Tables(s, dir, "events")
        .select(col("event_type").as("t"), col("user_id"), epochDay.as("d"))
      val ld = ev.groupBy("t").agg(max("d").as("last_d"))
      val gap = col("last_d") - col("d")
      val w = ev.join(broadcast(ld), "t")
        .select(col("t"), col("user_id"),
          when(gap <= 31,
            expr("shiftleft(CAST(1 AS BIGINT), CAST(31 - (last_d - d) AS INT))"))
            .otherwise(lit(0L)).as("wt"))
        .groupBy("t", "user_id")
        .agg(sum("wt").cast(LongType).as("decayed_w"))
        .filter(col("decayed_w") > 0)
      val rk = row_number().over(
        Window.partitionBy("t").orderBy(col("decayed_w").desc, col("user_id")))
      w.withColumn("rk", rk)
        .filter(col("rk") <= 5)
        .select(col("t").as("event_type"), col("rk").cast(LongType).as("rank"),
          col("user_id").cast(LongType).as("user_id"), col("decayed_w"))
        .orderBy("event_type", "rank")
    }
  )
}
