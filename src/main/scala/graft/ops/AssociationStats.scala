package graft.ops

import graft.OpDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.2 — association / dependence / effect-size statistics (the
  * CH cramersV/theilsU/rankCorr combinator family's neighbors). Shared
  * discipline: facts collapse ONCE to a bounded contingency or value
  * grain, margins ride grain windows, moment sums are DECIMAL(38,0)/
  * HUGEINT-exact, and the final coefficient is ONE identical IEEE chain
  * -> round(.,4). (Consolidated r9 from the r8 chronology files.)
  */
object AssociationStats {

  private val kProp = get_json_object(col("props"), "$.k").cast(LongType)
  private val centsL =
    (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
  private val big = DecimalType(38, 0)
  private val epochDay = datediff(col("ts").cast(DateType),
    to_date(lit("1970-01-01"))).cast(LongType)

  val defs: Map[String, OpDef] = Map(
    // ---- #154 Kendall rank correlation (tau-b) ------------------------------
    // Exact tau-b between the k-decile and day-of-week — the rank
    // correlation that, unlike Spearman, is well-defined under heavy ties.
    // Facts collapse ONCE to the ≤70-cell (x, y) contingency grain, then
    // the grain PIVOTS on the 7 known dow values (≤10 rows × 7 columns) so
    // concordant/discordant pair counts become 2-D dominance sums over
    // per-column cumulative windows — ONE lineage, ONE fact scan, ZERO
    // joins (the naive per-statistic branching re-scans the corpus 5×,
    // and even a cell self-join re-scans it twice). Products accumulate in
    // DECIMAL(38,0)/HUGEINT (cell counts are corpus-scale, their products
    // overflow int64 on the 100 TB path); ONE IEEE expression at the end
    // → round(·,4).
    "kendall_tau" -> OpDef(
      """WITH f AS (
        |  SELECT CAST(json_extract_string(props, 'k') AS BIGINT) // 10 AS x,
        |    date_part('dow', CAST(ts AS DATE)) AS y
        |  FROM events),
        |g AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM f
        |      WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1, 2),
        |p AS (
        |  SELECT
        |    COALESCE(SUM(CASE WHEN b.x > a.x AND b.y > a.y
        |        THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS conc,
        |    COALESCE(SUM(CASE WHEN b.x > a.x AND b.y < a.y
        |        THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS disc
        |  FROM g a, g b),
        |m AS (
        |  SELECT CAST(SUM(c) AS HUGEINT) AS n,
        |    (SELECT SUM(CAST(rc AS HUGEINT) * (rc - 1))
        |     FROM (SELECT SUM(c) AS rc FROM g GROUP BY x)) AS tx,
        |    (SELECT SUM(CAST(cc AS HUGEINT) * (cc - 1))
        |     FROM (SELECT SUM(c) AS cc FROM g GROUP BY y)) AS ty
        |  FROM g)
        |SELECT CAST(m.n AS BIGINT) AS n_total,
        |  round((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
        |    / sqrt((CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) - 1) / 2
        |            - CAST(tx AS DOUBLE) / 2)
        |         * (CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) - 1) / 2
        |            - CAST(ty AS DOUBLE) / 2)), 4) AS tau_b
        |FROM p, m""".stripMargin
    ) { (s, dir) =>
      val dows = 0 to 6
      val piv = Tables(s, dir, "events")
        .select(parity.floorDiv(kProp, 10).as("x"),
          (dayofweek(col("ts").cast(DateType)) - 1).cast(LongType).as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .groupBy("x").pivot("y", dows.map(i => Long.box(i.toLong)))
        .agg(count(lit(1)))
      def cAt(i: Int): Column = coalesce(col(s"$i"), lit(0L)).cast(big)
      val wCum = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      // after(x, y') = Σ_{x'>x} c(x', y') — column total minus inclusive
      // cum. ALL 14 window columns in ONE select (r18): the old
      // one-withColumn-per-column spelling put a Project between every
      // Window, which blocks Catalyst's adjacent-Window collapse and
      // planned 14 single-partition WindowExec nodes (14 sorts of the
      // pivot grain); extracted together they group by spec into 2.
      val withAfter = piv.select(
        piv.columns.map(col) ++
          dows.map(i => sum(cAt(i)).over(wAll).as(s"tot_$i")) ++
          dows.map(i =>
            (sum(cAt(i)).over(wAll) - sum(cAt(i)).over(wCum))
              .as(s"after_$i")): _*)
      def afterRange(p: Int => Boolean): Column =
        dows.filter(p).map(i => col(s"after_$i"))
          .reduceOption(_ + _).getOrElse(lit(0L).cast(big))
      val concRow = dows.map(y =>
        cAt(y) * afterRange(_ > y)).reduce(_ + _)
      val discRow = dows.map(y =>
        cAt(y) * afterRange(_ < y)).reduce(_ + _)
      val rowC = dows.map(cAt).reduce(_ + _)
      val aggCols: Seq[Column] = Seq(
        sum(rowC).as("n"),
        sum(concRow).as("conc"),
        sum(discRow).as("disc"),
        sum(rowC * (rowC - 1)).as("tx")) ++
        dows.map(i => max(col(s"tot_$i")).as(s"cc_$i"))
      val agg = withAfter.agg(aggCols.head, aggCols.tail: _*)
      val nD = col("n").cast(DoubleType)
      val n0 = nD * (nD - 1) / 2
      val ty = dows.map(i => col(s"cc_$i") * (col(s"cc_$i") - 1))
        .reduce(_ + _).cast(DoubleType)
      agg.select(col("n").cast(LongType).as("n_total"),
        round((col("conc").cast(DoubleType) - col("disc").cast(DoubleType))
          / sqrt((n0 - col("tx").cast(DoubleType) / 2) * (n0 - ty / 2)), 4)
          .as("tau_b"))
    },

    // ---- #162 contingency coefficients -------------------------------------
    // Pearson's C and Tschuprow's T on the same ≤50-cell (event_type ×
    // k-decile) contingency grain as cramers_v (#119) — the remaining CH
    // association-combinator pair. One fact collapse; margins ride window
    // sums over grain rows; χ² and both coefficients are ONE IEEE chain on
    // the 1-row result → round(·,4).
    "contingency_coef" -> OpDef(
      """WITH c AS (
        |  SELECT event_type AS t,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) // 10 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE json_extract_string(props, 'k') IS NOT NULL
        |  GROUP BY 1, 2),
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
        |SELECT n_total, round(chi2, 4) AS chi2,
        |  round(sqrt(chi2 / (chi2 + n_total)), 4) AS contingency_c,
        |  round(sqrt(chi2 / (n_total *
        |    sqrt(CAST((n_rows - 1) * (n_cols - 1) AS DOUBLE)))), 4)
        |    AS tschuprow_t
        |FROM x""".stripMargin
    ) { (s, dir) =>
      // rows with missing k are EXCLUDED (matching cov_corr_matrix /
      // rank_corr_matrix): a NULL decile would be counted as a χ² cell
      // while COUNT(DISTINCT b) excludes NULL, understating n_cols in
      // Tschuprow's normalizer — engine-consistent but statistically wrong
      val c = Tables(s, dir, "events")
        .filter(get_json_object(col("props"), "$.k").isNotNull)
        .groupBy(col("event_type").as("t"),
          parity.floorDiv(
            get_json_object(col("props"), "$.k").cast(LongType), 10).as("b"))
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
      x.select(col("n_total"), round(col("chi2"), 4).as("chi2"),
        round(sqrt(col("chi2") / (col("chi2") + col("n_total"))), 4)
          .as("contingency_c"),
        round(sqrt(col("chi2") / (col("n_total") *
          sqrt(((col("n_rows") - 1) * (col("n_cols") - 1))
            .cast(DoubleType)))), 4).as("tschuprow_t"))
    },

    // ---- #165 KL divergence per segment ------------------------------------
    // KL(P_t ‖ Q): each type's k-decile distribution against the corpus
    // marginal — the asymmetric sibling of js_divergence (#145), the
    // plain relative-entropy drift monitor. Identical shape: ONE collapse
    // to the ≤50-cell (type, decile) grain, margins ride grain windows,
    // ≤10-term ln fold per type → round(·,4) clamp. Cells absent from a
    // segment contribute 0 (plug-in estimator) identically on both
    // engines; q > 0 wherever p > 0 by construction (the marginal
    // dominates every segment).
    "kl_divergence" -> OpDef(
      """WITH c AS (
        |  SELECT event_type AS t,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) // 10 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT t, b, n,
        |    CAST(SUM(n) OVER (PARTITION BY t) AS BIGINT) AS nt,
        |    CAST(SUM(n) OVER (PARTITION BY b) AS BIGINT) AS nb,
        |    CAST(SUM(n) OVER () AS BIGINT) AS tot
        |  FROM c),
        |d AS (
        |  SELECT t,
        |    CAST(n AS DOUBLE) / nt AS p, CAST(nb AS DOUBLE) / tot AS q
        |  FROM m)
        |SELECT t AS event_type, round(SUM(p * ln(p / q)), 4) AS kl
        |FROM d GROUP BY t ORDER BY t""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"),
          parity.floorDiv(kProp, 10).as("b"))
        .agg(count(lit(1)).as("n"))
      val m = c
        .withColumn("nt", sum("n").over(Window.partitionBy("t")))
        .withColumn("nb", sum("n").over(Window.partitionBy("b")))
        .withColumn("tot", sum("n").over(Window.partitionBy()))
      val p = col("n").cast(DoubleType) / col("nt")
      val q = col("nb").cast(DoubleType) / col("tot")
      m.select(col("t"), (p * log(p / q)).as("term"))
        .groupBy("t").agg(round(sum("term"), 4).as("kl"))
        .select(col("t").as("event_type"), col("kl"))
        .orderBy("event_type")
    },

    // ---- #166 Cliff's delta (ordinal effect size) --------------------------
    // δ = (#{x>y} − #{x<y}) / (nx·ny) for click-vs-view values — the
    // effect-size companion to mannwhitney_utest (#111), exact: both
    // dominance counts ride the SAME collapsed 2-dp value grain and its
    // exclusive prefix windows (the grain-window discipline, pinned by
    // ValueGrainCap). Products in DECIMAL(38,0)/HUGEINT; ONE double
    // divide → round(·,4).
    "cliffs_delta" -> OpDef(
      """WITH vals AS (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    event_type = 'click' AS isx
        |  FROM events WHERE event_type IN ('click', 'view')),
        |cnt AS (
        |  SELECT v, CAST(COUNT(*) FILTER (WHERE isx) AS BIGINT) AS cx,
        |    CAST(COUNT(*) FILTER (WHERE NOT isx) AS BIGINT) AS cy
        |  FROM vals GROUP BY v),
        |rk AS (
        |  SELECT cx, cy,
        |    COALESCE(SUM(cy) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cyb,
        |    CAST(SUM(cy) OVER () AS HUGEINT) AS ny
        |  FROM cnt),
        |m AS (
        |  SELECT CAST(SUM(cx) AS BIGINT) AS nx, CAST(MAX(ny) AS BIGINT) AS ny,
        |    CAST(SUM(CAST(cx AS HUGEINT) * cyb) AS BIGINT) AS n_gt,
        |    CAST(SUM(CAST(cx AS HUGEINT) * (ny - cyb - cy)) AS BIGINT) AS n_lt
        |  FROM rk)
        |SELECT nx AS n_click, ny AS n_view, n_gt, n_lt,
        |  round(CAST(n_gt - n_lt AS DOUBLE)
        |    / (CAST(nx AS DOUBLE) * ny), 4) AS delta
        |FROM m""".stripMargin
    ) { (s, dir) =>
      val cnt = Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("value").cast(DecimalType(18, 2)).as("v"),
          (col("event_type") === "click").as("isx"))
        .groupBy("v")
        .agg(count(when(col("isx"), 1)).as("cx"),
          count(when(!col("isx"), 1)).as("cy"))
      val excl = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val rk = cnt
        .withColumn("cyb",
          coalesce(sum(col("cy").cast(big)).over(excl), lit(0).cast(big)))
        .withColumn("ny",
          sum(col("cy").cast(big)).over(Window.partitionBy()))
      val m = rk.agg(
        sum("cx").cast(LongType).as("nx"),
        max("ny").cast(LongType).as("ny"),
        sum(col("cx").cast(big) * col("cyb")).cast(LongType).as("n_gt"),
        sum(col("cx").cast(big) * (col("ny") - col("cyb") - col("cy")))
          .cast(LongType).as("n_lt"))
      m.select(col("nx").as("n_click"), col("ny").as("n_view"),
        col("n_gt"), col("n_lt"),
        round((col("n_gt") - col("n_lt")).cast(DoubleType)
          / (col("nx").cast(DoubleType) * col("ny")), 4).as("delta"))
    },

    // ---- #169 event-type transition matrix ---------------------------------
    // P(next_type | prev_type) over each user's time-ordered stream — the
    // first-order Markov structure of user behavior (the events twin of
    // bigram_condprob). The lag rides ONE hashpartitioning(user_id)
    // exchange; pairs collapse to the ≤25-cell (prev, next) grain; the
    // margin is a window over grain rows; P is one exact-integer divide
    // → round(·,4).
    "type_transitions" -> OpDef(
      """WITH e AS (
        |  SELECT user_id, event_type AS t, epoch_us(ts) AS us, event_id
        |  FROM events),
        |l AS (
        |  SELECT t AS cur, lag(t) OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |  FROM e),
        |c AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM l WHERE prev IS NOT NULL GROUP BY 1, 2),
        |w AS (
        |  SELECT prev, cur, n,
        |    CAST(SUM(n) OVER (PARTITION BY prev) AS BIGINT) AS np
        |  FROM c)
        |SELECT prev AS prev_type, cur AS next_type, n,
        |  round(CAST(n AS DOUBLE) / np, 4) AS p_trans
        |FROM w ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val lagW = Window.partitionBy("user_id").orderBy("us", "event_id")
      val l = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type").as("cur"),
          expr("unix_micros(ts)").as("us"), col("event_id"))
        .withColumn("prev", lag(col("cur"), 1).over(lagW))
        .filter(col("prev").isNotNull)
      val c = l.groupBy("prev", "cur").agg(count(lit(1)).as("n"))
      c.withColumn("np",
          sum("n").over(Window.partitionBy("prev")).cast(LongType))
        .select(col("prev").as("prev_type"), col("cur").as("next_type"),
          col("n"),
          round(col("n").cast(DoubleType) / col("np"), 4).as("p_trans"))
        .orderBy("prev_type", "next_type")
    },

    // ---- #305 top-k 3-step behavior paths (r13) ----------------------------
    // The sequence-mining read-out one level up from #169's Markov matrix:
    // which CONCRETE 3-step journeys dominate (view>click>purchase vs
    // view>view>view), with corpus share — the Sankey/path-analysis
    // primitive every product-analytics store ships. Per user, consecutive
    // event-type triples come from TWO leads over ONE user-keyed window
    // exchange (µs event time, event_id tiebreak — the #169 ordering);
    // triples collapse onto the ≤|types|³ path grain (125 cells here, a
    // constant at any fact volume), the total broadcasts back, and top-k
    // is a deterministic (count desc, path asc) TakeOrderedAndProject —
    // no global sort of fact-grain rows. Integer counts + ONE divide →
    // round(·, 6).
    "path3_topk" -> OpDef(
      """WITH e AS (
        |  SELECT user_id, event_type AS t0, epoch_us(ts) AS us, event_id
        |  FROM events),
        |s AS (
        |  SELECT t0,
        |    lead(t0, 1) OVER w AS t1,
        |    lead(t0, 2) OVER w AS t2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |c AS (
        |  SELECT t0 || '>' || t1 || '>' || t2 AS path,
        |    CAST(COUNT(*) AS BIGINT) AS n_paths
        |  FROM s
        |  WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_paths) AS BIGINT) AS tot FROM c)
        |SELECT path, n_paths,
        |  round(CAST(n_paths AS DOUBLE) / tot, 6) AS share
        |FROM c CROSS JOIN tot
        |ORDER BY n_paths DESC, path LIMIT 20""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val seq3 = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type").as("t0"),
          expr("unix_micros(ts)").as("us"), col("event_id"))
        .withColumn("t1", lead(col("t0"), 1).over(w))
        .withColumn("t2", lead(col("t0"), 2).over(w))
        // t0 guard (r14 advice): concat_ws SKIPS a NULL t0 ('t1>t2') while
        // the oracle's || yields a NULL path — both engines must drop the
        // same rows if event_type is ever NULL
        .filter(col("t0").isNotNull && col("t1").isNotNull && col("t2").isNotNull)
      val c = seq3
        .groupBy(concat_ws(">", col("t0"), col("t1"), col("t2")).as("path"))
        .agg(count(lit(1)).as("n_paths"))
      val tot = c.agg(sum("n_paths").cast(LongType).as("tot"))
      c.crossJoin(broadcast(tot))
        .select(col("path"), col("n_paths").cast(LongType).as("n_paths"),
          round(col("n_paths").cast(DoubleType) / col("tot"), 6).as("share"))
        .orderBy(col("n_paths").desc, col("path"))
        .limit(20)
    },

    // ---- #170 pairwise covariance/correlation matrix -----------------------
    // All three feature pairs of (value-cents, k-prop, hour-of-day) from
    // ONE partial-agg exchange carrying 10 exact scalars (n + 3 sums + 3
    // squares + 3 cross products, DECIMAL(38,0)/HUGEINT — cross products
    // of corpus-scale sums overflow int64 at 100 TB). The naive
    // per-pair corr() rescans the fact 3×; this is the diagnose-vs-reread
    // trade the moment bank already makes (linreg_fit_stats discipline).
    // Population cov/corr are ONE IEEE chain on the 1-row result,
    // stacked to 3 pair rows by an inline explode → round(·,4).
    "cov_corr_matrix" -> OpDef(
      """WITH f AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |    date_part('hour', ts) AS h
        |  FROM events
        |  WHERE json_extract_string(props, 'k') IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(k AS HUGEINT)) AS DOUBLE) AS sk,
        |    CAST(SUM(CAST(h AS HUGEINT)) AS DOUBLE) AS sh,
        |    CAST(SUM(CAST(v AS HUGEINT) * v) AS DOUBLE) AS svv,
        |    CAST(SUM(CAST(k AS HUGEINT) * k) AS DOUBLE) AS skk,
        |    CAST(SUM(CAST(h AS HUGEINT) * h) AS DOUBLE) AS shh,
        |    CAST(SUM(CAST(v AS HUGEINT) * k) AS DOUBLE) AS svk,
        |    CAST(SUM(CAST(v AS HUGEINT) * h) AS DOUBLE) AS svh,
        |    CAST(SUM(CAST(k AS HUGEINT) * h) AS DOUBLE) AS skh
        |  FROM f),
        |u AS (
        |  SELECT 'k_h' AS pair, n, sk AS sx, sh AS sy, skk AS sxx,
        |    shh AS syy, skh AS sxy FROM m
        |  UNION ALL SELECT 'v_h', n, sv, sh, svv, shh, svh FROM m
        |  UNION ALL SELECT 'v_k', n, sv, sk, svv, skk, svk FROM m)
        |SELECT pair, n,
        |  round((sxy - sx * sy / n) / n, 4) AS cov_pop,
        |  round(CASE WHEN (sxx - sx * sx / n) > 0 AND (syy - sy * sy / n) > 0
        |    THEN (sxy - sx * sy / n)
        |      / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) END, 4)
        |    AS corr
        |FROM u ORDER BY pair""".stripMargin
    ) { (s, dir) =>
      val f = Tables(s, dir, "events")
        .filter(get_json_object(col("props"), "$.k").isNotNull)
        .select(centsL.as("v"), kProp.as("k"),
          hour(col("ts")).cast(LongType).as("h"))
      def sd(c: Column): Column = sum(c.cast(big)).cast(DoubleType)
      val m = f.agg(count(lit(1)).cast(LongType).as("n"),
        sd(col("v")).as("sv"), sd(col("k")).as("sk"), sd(col("h")).as("sh"),
        sum(col("v").cast(big) * col("v")).cast(DoubleType).as("svv"),
        sum(col("k").cast(big) * col("k")).cast(DoubleType).as("skk"),
        sum(col("h").cast(big) * col("h")).cast(DoubleType).as("shh"),
        sum(col("v").cast(big) * col("k")).cast(DoubleType).as("svk"),
        sum(col("v").cast(big) * col("h")).cast(DoubleType).as("svh"),
        sum(col("k").cast(big) * col("h")).cast(DoubleType).as("skh"))
      val u = m.select(explode(array(
          struct(lit("k_h").as("pair"), col("n"), col("sk").as("sx"),
            col("sh").as("sy"), col("skk").as("sxx"), col("shh").as("syy"),
            col("skh").as("sxy")),
          struct(lit("v_h").as("pair"), col("n"), col("sv").as("sx"),
            col("sh").as("sy"), col("svv").as("sxx"), col("shh").as("syy"),
            col("svh").as("sxy")),
          struct(lit("v_k").as("pair"), col("n"), col("sv").as("sx"),
            col("sk").as("sy"), col("svv").as("sxx"), col("skk").as("syy"),
            col("svk").as("sxy")))).as("p"))
        .select(col("p.*"))
      val nD = col("n").cast(DoubleType)
      val (vx, vy) = (col("sxx") - col("sx") * col("sx") / nD,
        col("syy") - col("sy") * col("sy") / nD)
      val cxy = col("sxy") - col("sx") * col("sy") / nD
      u.select(col("pair"), col("n"),
        round(cxy / nD, 4).as("cov_pop"),
        round(when(vx > 0 && vy > 0, cxy / sqrt(vx * vy)), 4).as("corr"))
        .orderBy("pair")
    },

    // ---- #184 Markov conditional entropy -----------------------------------
    // H(next | prev) per prev_type over the user-stream transition matrix
    // (#169's information-theoretic summary): how predictable is the next
    // event given the current one? The lag rides ONE
    // hashpartitioning(user_id) exchange; pairs collapse to the ≤25-cell
    // grain; the margin is a grain window; the ≤5-term ln fold per prev →
    // round(·,4) clamp (entropy_agg discipline).
    "markov_entropy" -> OpDef(
      """WITH e AS (
        |  SELECT user_id, event_type AS t, epoch_us(ts) AS us, event_id
        |  FROM events),
        |l AS (
        |  SELECT t AS cur, lag(t) OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |  FROM e),
        |c AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM l WHERE prev IS NOT NULL GROUP BY 1, 2),
        |w AS (
        |  SELECT prev, n,
        |    CAST(SUM(n) OVER (PARTITION BY prev) AS BIGINT) AS np
        |  FROM c)
        |SELECT prev AS prev_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
        |  round(SUM(-(CAST(n AS DOUBLE) / np) * ln(CAST(n AS DOUBLE) / np)),
        |    4) AS h_cond
        |FROM w GROUP BY prev ORDER BY prev""".stripMargin
    ) { (s, dir) =>
      val lagW = Window.partitionBy("user_id").orderBy("us", "event_id")
      val l = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type").as("cur"),
          expr("unix_micros(ts)").as("us"), col("event_id"))
        .withColumn("prev", lag(col("cur"), 1).over(lagW))
        .filter(col("prev").isNotNull)
      val c = l.groupBy("prev", "cur").agg(count(lit(1)).as("n"))
      val w = c.withColumn("np",
        sum("n").over(Window.partitionBy("prev")).cast(LongType))
      val p = col("n").cast(DoubleType) / col("np")
      w.groupBy("prev").agg(
          max("np").cast(LongType).as("n_pairs"),
          round(sum(-p * log(p)), 4).as("h_cond"))
        .select(col("prev").as("prev_type"), col("n_pairs"), col("h_cond"))
        .orderBy("prev_type")
    },

    // ---- #187 Spearman rank-correlation matrix -----------------------------
    // All three pairwise Spearman ρ of (value-cents, k-prop, hour) in ONE
    // fact pass — the monotone-dependence twin of cov_corr_matrix (#170).
    // Each feature's average-tie-rank map is built on its own bounded
    // grain (2-dp values / 100 k-buckets / 24 hours) and BROADCAST back
    // (the spearman_corr discipline: fact rows never shuffle). The trick
    // that makes the whole thing EXACT at any scale: double-ranks
    // ir = 2·offset + cnt + 1 are INTEGERS, ρ is scale-invariant
    // (corr(2x,2y) = corr(x,y)), so every moment is an exact
    // DECIMAL(38,0)/HUGEINT sum — no float fold anywhere, ONE IEEE chain
    // on the 1-row result → round(·,4).
    "rank_corr_matrix" -> OpDef(
      """WITH f AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |    date_part('hour', ts) AS h
        |  FROM events
        |  WHERE json_extract_string(props, 'k') IS NOT NULL),
        |gv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1),
        |rv AS (
        |  SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
        |    AS rx
        |  FROM gv),
        |gk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1),
        |rk AS (
        |  SELECT k, 2 * COALESCE(SUM(c) OVER (ORDER BY k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
        |    AS ry
        |  FROM gk),
        |gh AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1),
        |rh AS (
        |  SELECT h, 2 * COALESCE(SUM(c) OVER (ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
        |    AS rz
        |  FROM gh),
        |j AS (
        |  SELECT CAST(rx AS HUGEINT) AS x, CAST(ry AS HUGEINT) AS y,
        |    CAST(rz AS HUGEINT) AS z
        |  FROM f JOIN rv USING (v) JOIN rk USING (k) JOIN rh USING (h)),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(z) AS DOUBLE) AS sz,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy,
        |    CAST(SUM(z * z) AS DOUBLE) AS szz,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * z) AS DOUBLE) AS sxz,
        |    CAST(SUM(y * z) AS DOUBLE) AS syz
        |  FROM j),
        |u AS (
        |  SELECT 'k_h' AS pair, n, sy AS sa, sz AS sb, syy AS saa,
        |    szz AS sbb, syz AS sab FROM m
        |  UNION ALL SELECT 'v_h', n, sx, sz, sxx, szz, sxz FROM m
        |  UNION ALL SELECT 'v_k', n, sx, sy, sxx, syy, sxy FROM m)
        |SELECT pair, n,
        |  round(CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
        |    THEN (n * sab - sa * sb)
        |      / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) END, 4)
        |    AS spearman_rho
        |FROM u ORDER BY pair""".stripMargin
    ) { (s, dir) =>
      // r17: f feeds FOUR consumers inside the one action (three rank maps
      // + the rank-attach join) — without the persist the events scan and
      // the per-row JSON k-prop extraction (the query's dominant per-row
      // cost) re-ran four times (guide §1.2: don't recompute what you
      // already paid for). CacheRegistry discipline as everywhere else.
      val f = graft.CacheRegistry.track(Tables(s, dir, "events")
        .filter(get_json_object(col("props"), "$.k").isNotNull)
        .select(centsL.as("v"), kProp.as("k"),
          hour(col("ts")).cast(LongType).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // double-rank maps: ir = 2·offset + cnt + 1. v (cents) and k (JSON
      // prop) are UNBOUNDED domains at 100 TB, so their maps compute
      // two-level ([[PrefixRank.doubledMidRank]], r18 — buckets of 2^16
      // values via arithmetic shift, monotone on longs) instead of one
      // partition-less window sorting the whole distinct-value grain in a
      // single task. h is the HOUR OF DAY — ≤24 distinct values by
      // construction — so its map keeps the direct one-window spelling
      // (whitelisted in the PlanAuditSpec unpartitioned-window gate; the
      // two-level machinery would cost 2 exchanges to protect a 24-row
      // sort).
      def rankMap(colName: String, out: String): DataFrame =
        PrefixRank.doubledMidRank(
          f.groupBy(colName).agg(count(lit(1)).as("c")),
          colName, shiftright(col(colName), 16), out)
      val excl = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, -1)
      val hourMap = f.groupBy("h").agg(count(lit(1)).as("c"))
        .select(col("h"),
          (lit(2) * coalesce(sum("c").over(excl), lit(0L)) + col("c") + 1)
            .as("rz"))
      val j = f
        .join(broadcast(rankMap("v", "rx")), "v")
        .join(broadcast(rankMap("k", "ry")), "k")
        .join(broadcast(hourMap), "h")
      def sd(c: Column): Column = sum(c.cast(big)).cast(DoubleType)
      val m = j.agg(count(lit(1)).cast(LongType).as("n"),
        sd(col("rx")).as("sx"), sd(col("ry")).as("sy"), sd(col("rz")).as("sz"),
        sum(col("rx").cast(big) * col("rx")).cast(DoubleType).as("sxx"),
        sum(col("ry").cast(big) * col("ry")).cast(DoubleType).as("syy"),
        sum(col("rz").cast(big) * col("rz")).cast(DoubleType).as("szz"),
        sum(col("rx").cast(big) * col("ry")).cast(DoubleType).as("sxy"),
        sum(col("rx").cast(big) * col("rz")).cast(DoubleType).as("sxz"),
        sum(col("ry").cast(big) * col("rz")).cast(DoubleType).as("syz"))
      val u = m.select(explode(array(
          struct(lit("k_h").as("pair"), col("n"), col("sy").as("sa"),
            col("sz").as("sb"), col("syy").as("saa"), col("szz").as("sbb"),
            col("syz").as("sab")),
          struct(lit("v_h").as("pair"), col("n"), col("sx").as("sa"),
            col("sz").as("sb"), col("sxx").as("saa"), col("szz").as("sbb"),
            col("sxz").as("sab")),
          struct(lit("v_k").as("pair"), col("n"), col("sx").as("sa"),
            col("sy").as("sb"), col("sxx").as("saa"), col("syy").as("sbb"),
            col("sxy").as("sab")))).as("p"))
        .select(col("p.*"))
      val nD = col("n").cast(DoubleType)
      val (va, vb) = (nD * col("saa") - col("sa") * col("sa"),
        nD * col("sbb") - col("sb") * col("sb"))
      val rho = when(va > 0 && vb > 0,
        (nD * col("sab") - col("sa") * col("sb")) / sqrt(va * vb))
      u.select(col("pair"), col("n"), round(rho, 4).as("spearman_rho"))
        .orderBy("pair")
    },

    // ---- #241 Herfindahl-Hirschman concentration per market ----------------
    // HHI of supplier revenue shares within each brand — the antitrust /
    // marketplace concentration read-out (gini_inequality's square-share
    // sibling). Facts collapse ONCE to the (brand, supplier) grain on one
    // shuffle, in integral 1e-4-dollar units: price*(1-disc)*100 has
    // fractional cents, and a non-integral DECIMAL→BIGINT cast ROUNDS in
    // DuckDB but TRUNCATES in Spark — so instead each row contributes
    // (integral cents) × (100 − integral discount-percent), pure integer
    // math with identical semantics on both engines (both 2-decimal casts
    // are exact by data construction). HHI = Σsᵢ²/S² is scale-invariant,
    // so the unit change cancels; squares evaluate in
    // DECIMAL(38,0)/HUGEINT (1e-4-unit s² ≈ 10²² at big SFs — past
    // BIGINT, inside 38 digits), so the only IEEE step is the final
    // divide → round(·,6).
    "hhi_concentration" -> OpDef(
      """WITH g AS (
        |  SELECT p.p_brand, l.l_suppkey,
        |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      * (100 - CAST(CAST(l.l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)))
        |      AS BIGINT) AS s
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2)
        |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |  round(CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE)
        |    / (CAST(SUM(s) AS DOUBLE) * CAST(SUM(s) AS DOUBLE)), 6) AS hhi
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val p = Tables(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          ((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType)
            * (lit(100L) - (col("l_discount").cast(DecimalType(18, 2)) * 100)
              .cast(LongType))).as("v"))
      val g = l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy("p_brand", "l_suppkey")
        .agg(sum("v").cast(LongType).as("s"))
      g.groupBy("p_brand")
        .agg(count(lit(1)).cast(LongType).as("n_suppliers"),
          round(sum(col("s").cast(big) * col("s").cast(big))
            .cast(DoubleType)
            / (sum("s").cast(DoubleType) * sum("s").cast(DoubleType)), 6)
            .as("hhi"))
        .orderBy("p_brand")
    },

    // ---- #242 market-basket brand lift -------------------------------------
    // Co-occurrence lift for every brand pair appearing in one order:
    // lift(a,b) = N·n_ab / (n_a·n_b) — the association-rule primitive.
    // Scale shape: pairs come from an IN-ROW explode of the per-order
    // sorted brand array (collect_set rides the one orderkey exchange) —
    // ≤ C(13,2) pairs per order, never corpus-quadratic, and no self-join:
    // the r12 grain self-join shuffled the grain twice for the same pair
    // stream. Brand marginals and the order total come from the same
    // array grain and broadcast onto the ≤C(25,2) pair rows. Integers +
    // one divide.
    "basket_lift" -> OpDef(
      """WITH g AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n_ord AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM g),
        |m AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nb FROM g GROUP BY 1),
        |pr AS (
        |  SELECT a.b AS brand_a, c.b AS brand_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM g a JOIN g c ON a.ok = c.ok AND a.b < c.b
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_ab,
        |  round(CAST(n.n * n_ab AS DOUBLE) / (ma.nb * mb.nb), 4) AS lift
        |FROM pr JOIN m ma ON ma.b = brand_a JOIN m mb ON mb.b = brand_b
        |CROSS JOIN n_ord n
        |ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val p = Tables(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      // Per-order sorted brand ARRAY instead of a grain self-join (r13,
      // verdict item 5): collect_set collapses the fact join to one row
      // per order on the SAME exchange the old distinct() needed, then the
      // ≤C(13,2) in-row pairs explode with zero additional joins —
      // brand_a < brand_b falls out of the ascending sort (i < j). The
      // array grain feeds pair generation, both marginals and the order
      // count, so the fact join runs once (CacheRegistry discipline;
      // production callers release via Graft.releaseCaches()).
      val l = Tables(s, dir, "lineitem").select(col("l_partkey"), col("l_orderkey"))
      // persist kept after the r17 reuse audit: unlike the distinct-rooted
      // caches r17 dropped, column pruning rewrites this agg differently
      // per consumer (nOrd/m need no `bs`), so the subtrees DIVERGE and
      // runtime exchange reuse cannot dedupe them — the executed plan
      // without the persist ran the lineitem⋈part collapse twice
      // (OPTIMIZATION_r17.md: final_scans=4). Measured flat at sf0.1 either way;
      // one fact pass is the right 100 TB shape.
      val arr = graft.CacheRegistry.track(
        l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
          .groupBy(col("l_orderkey").as("ok"))
          .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val nOrd = arr.agg(count(lit(1)).as("n"))
      val m = arr.select(explode(col("bs")).as("b"))
        .groupBy("b").agg(count(lit(1)).as("nb"))
      val pr = arr
        .select(col("bs"), posexplode(col("bs")).as(Seq("i", "brand_a")))
        .select(col("brand_a"),
          explode(slice(col("bs"), col("i") + 2, size(col("bs")))).as("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(count(lit(1)).as("n_ab"))
      pr.join(broadcast(m.select(col("b").as("brand_a"), col("nb").as("na"))),
          "brand_a")
        .join(broadcast(m.select(col("b").as("brand_b"), col("nb").as("nb"))),
          "brand_b")
        .crossJoin(broadcast(nOrd))
        .select(col("brand_a"), col("brand_b"),
          col("n_ab").cast(LongType).as("n_ab"),
          round((col("n") * col("n_ab")).cast(DoubleType)
            / (col("na") * col("nb")), 4).as("lift"))
        .orderBy("brand_a", "brand_b")
    },

    // ---- #284 corr -State/-Merge re-aggregation (r12) ----------------------
    // The mergeability proof for SECOND moments (#94's incremental form —
    // CH corrState/corrMerge): per-(type, day) state cells hold the six
    // additive partials (n, Σx, Σy, Σxy, Σxx, Σyy) with the moment sums in
    // exact decimals, a rollup SUMs cells per type, and the corr/slope/
    // intercept chain runs on the merged totals. Because decimal sums are
    // associative and exact, merge-of-cells ≡ one-pass #94 BIT-FOR-BIT at
    // any split of the data — this is how a 100 TB sink maintains live
    // correlations: fold each flush into O(groups × days) cells, never
    // rescan history (the quantile_timing_reagg discipline on moments;
    // merge identity spec-pinned in MomentsReaggSpec). Two agg exchanges
    // (cells are ~types×days rows) + the output sort, zero joins.
    "corr_reagg" -> OpDef(
      """WITH st AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
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
        |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n,
        |    CAST(SUM(sx) AS DOUBLE) AS sx, CAST(SUM(sy) AS DOUBLE) AS sy,
        |    CAST(SUM(sxy) AS DOUBLE) AS sxy, CAST(SUM(sxx) AS DOUBLE) AS sxx,
        |    CAST(SUM(syy) AS DOUBLE) AS syy
        |  FROM st GROUP BY 1)
        |SELECT event_type, n,
        |  (n * sxy - sx * sy)
        |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_xy
        |FROM m ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      MomentCells.corrFromCells(
        MomentCells.cells(Tables(s, dir, "events"))).orderBy("event_type")
    }
  )

  /** The #284 state/merge kernel, exposed for the mergeability spec: cells
    * are the additive corr partials at the (event_type, day) grain; any
    * UNION of disjoint slices' cells merges to the same totals because
    * every field is an exact decimal/integer sum.
    */
  object MomentCells {
    def cells(events: DataFrame): DataFrame = {
      val x = col("value").cast(DecimalType(18, 2))
      val y = get_json_object(col("props"), "$.k").cast(LongType)
      events.groupBy(col("event_type"), col("ts").cast(DateType).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).cast(LongType).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"),
          sum(y * y).cast(LongType).as("syy"))
    }

    def corrFromCells(cells: DataFrame): DataFrame = {
      val m = cells.groupBy("event_type")
        .agg(sum("n").cast(LongType).as("n"),
          sum("sx").cast(DoubleType).as("sx"),
          sum("sy").cast(DoubleType).as("sy"),
          sum("sxy").cast(DoubleType).as("sxy"),
          sum("sxx").cast(DoubleType).as("sxx"),
          sum("syy").cast(DoubleType).as("syy"))
      val n = col("n"); val sx = col("sx"); val sy = col("sy")
      m.select(col("event_type"), n,
        ((n * col("sxy") - sx * sy)
          / (sqrt(n * col("sxx") - sx * sx) * sqrt(n * col("syy") - sy * sy)))
          .as("corr_xy"))
    }
  }
}
