package graft.ops

import graft.{CapacityPins, OpDef}
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.2/§2.3 round-7 extensions — regression / association /
  * cohort / language-model analytics, each in the bank's established
  * scale shapes (grain collapses, broadcast joins, exact-integer
  * arithmetic with the §5 double-at-the-boundary rule).
  *
  * Reference surface exercised (semantics, not implementation):
  * ClickHouse simpleLinearRegression generalized to two features,
  * cramersVBiasCorrected, retention-cohort rollups, quantileTiming's
  * fixed-resolution bucket scheme, and the categorical
  * information-value / WoE feature-screening pass; plus two corpus LM
  * passes (bigram conditional probabilities, unigram surprisal) for the
  * training-data pipeline family.
  */
object AnalyticsR7 {

  private val kProp = get_json_object(col("props"), "$.k").cast(LongType)
  private val centsL =
    (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
  private val big = DecimalType(38, 0)

  val defs: Map[String, OpDef] = Map(

    // ---- #135 weekly cohort retention matrix -------------------------------
    // The classic product-analytics rollup: users grouped by first-seen
    // week (cohort), counted per week-offset they return in. Shape: ONE
    // hashpartitioning(user_id) collapse builds each user's distinct week
    // SET (collect_set partial-aggregates map-side; weeks/user is bounded
    // by calendar time, not data volume), cohort = array_min riding the
    // same row — no window, no second user exchange — then one tiny
    // (cohort, offset) grain collapse. Exact integers end to end.
    "cohort_retention" -> OpDef(
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk
        |  FROM events),
        |c AS (
        |  SELECT user_id, wk, MIN(wk) OVER (PARTITION BY user_id) AS cohort
        |  FROM uw)
        |SELECT CAST(cohort AS BIGINT) AS cohort_wk,
        |  CAST(wk - cohort AS BIGINT) AS offset_wk,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val wk = floor(datediff(col("ts").cast(DateType),
        to_date(lit("1970-01-01"))) / 7).cast(LongType)
      Tables(s, dir, "events")
        .select(col("user_id"), wk.as("wk"))
        .groupBy("user_id").agg(collect_set("wk").as("wks"))
        .select(array_min(col("wks")).as("cohort"), explode(col("wks")).as("wk"))
        .groupBy(col("cohort").as("cohort_wk"),
          (col("wk") - col("cohort")).as("offset_wk"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "offset_wk")
    },

    // ---- #136 two-feature linear regression from exact moments -------------
    // CH simpleLinearRegression generalized to y = b0 + b1·k + b2·dow via
    // the normal equations: ONE pass collects nine exact moment sums per
    // event_type (products accumulated in DECIMAL(38,0)/HUGEINT — no 2^63
    // wrap on the 100 TB path, the outliers_exact discipline), each cast
    // to double ONCE, then Cramer's rule as an IDENTICAL IEEE expression
    // shape on both engines → round(·,4) clamp only on the coefficients.
    // Zero joins, one agg exchange of 10 scalars per group.
    "linreg_2f" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |    date_part('dow', CAST(ts AS DATE)) AS w
        |  FROM events),
        |m AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(k) AS DOUBLE) AS sk, CAST(SUM(w) AS DOUBLE) AS sw,
        |    CAST(SUM(CAST(k AS HUGEINT) * k) AS DOUBLE) AS skk,
        |    CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE) AS sww,
        |    CAST(SUM(CAST(k AS HUGEINT) * w) AS DOUBLE) AS skw,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(k AS HUGEINT) * y) AS DOUBLE) AS sky,
        |    CAST(SUM(CAST(w AS HUGEINT) * y) AS DOUBLE) AS swy
        |  FROM f GROUP BY t)
        |SELECT t AS event_type, n,
        |  round((sy*(skk*sww - skw*skw) - sk*(sky*sww - skw*swy)
        |         + sw*(sky*skw - skk*swy))
        |      / (n*(skk*sww - skw*skw) - sk*(sk*sww - skw*sw)
        |         + sw*(sk*skw - skk*sw)), 4) AS b0,
        |  round((n*(sky*sww - skw*swy) - sy*(sk*sww - skw*sw)
        |         + sw*(sk*swy - sky*sw))
        |      / (n*(skk*sww - skw*skw) - sk*(sk*sww - skw*sw)
        |         + sw*(sk*skw - skk*sw)), 4) AS b_k,
        |  round((n*(skk*swy - sky*skw) - sk*(sk*swy - sky*sw)
        |         + sy*(sk*skw - skk*sw))
        |      / (n*(skk*sww - skw*skw) - sk*(sk*sww - skw*sw)
        |         + sw*(sk*skw - skk*sw)), 4) AS b_dow
        |FROM m ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val w = (dayofweek(col("ts").cast(DateType)) - 1).cast(LongType)
      val f = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("y"), kProp.as("k"),
          w.as("w"))
      def sq(a: String, b: String) =
        sum(col(a).cast(big) * col(b).cast(big)).cast(DoubleType)
      val m = f.groupBy("t").agg(
        count(lit(1)).as("n"),
        sum("k").cast(DoubleType).as("sk"), sum("w").cast(DoubleType).as("sw"),
        sq("k", "k").as("skk"), sq("w", "w").as("sww"), sq("k", "w").as("skw"),
        sum("y").cast(DoubleType).as("sy"),
        sq("k", "y").as("sky"), sq("w", "y").as("swy"))
      val (n, sk, sw) = (col("n"), col("sk"), col("sw"))
      val (skk, sww, skw) = (col("skk"), col("sww"), col("skw"))
      val (sy, sky, swy) = (col("sy"), col("sky"), col("swy"))
      val det = n * (skk * sww - skw * skw) - sk * (sk * sww - skw * sw) +
        sw * (sk * skw - skk * sw)
      val det0 = sy * (skk * sww - skw * skw) - sk * (sky * sww - skw * swy) +
        sw * (sky * skw - skk * swy)
      val detK = n * (sky * sww - skw * swy) - sy * (sk * sww - skw * sw) +
        sw * (sk * swy - sky * sw)
      val detW = n * (skk * swy - sky * skw) - sk * (sk * swy - sky * sw) +
        sy * (sk * skw - skk * sw)
      m.select(col("t").as("event_type"), n,
        round(det0 / det, 4).as("b0"),
        round(detK / det, 4).as("b_k"),
        round(detW / det, 4).as("b_dow"))
        .orderBy("event_type")
    },

    // ---- #137 bias-corrected Cramér's V (CH cramersVBiasCorrected) ---------
    // cramers_v's grain and fold (≤5×10 contingency cells on one tiny
    // shuffle) plus the Bergsma small-sample correction: φ²c = max(0,
    // φ² − (r−1)(c−1)/(n−1)), corrected row/col counts, V from the
    // corrected ratio — a handful of scalar IEEE ops on the 1-row result,
    // → round(·,4) clamp (the fold is the only order-dependent step).
    "cramers_v_corrected" -> OpDef(
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
        |    CAST(COUNT(DISTINCT t) AS BIGINT) AS r,
        |    CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
        |    SUM((n - CAST(rm AS DOUBLE) * cm / tot)
        |        * (n - CAST(rm AS DOUBLE) * cm / tot)
        |        / (CAST(rm AS DOUBLE) * cm / tot)) AS chi2
        |  FROM m),
        |y AS (
        |  SELECT n_total, r, c,
        |    greatest(0.0, chi2 / n_total
        |      - CAST((r - 1) * (c - 1) AS DOUBLE) / (n_total - 1)) AS phi2c,
        |    r - CAST((r - 1) * (r - 1) AS DOUBLE) / (n_total - 1) AS rc,
        |    c - CAST((c - 1) * (c - 1) AS DOUBLE) / (n_total - 1) AS cc
        |  FROM x)
        |SELECT n_total, r AS n_rows, c AS n_cols,
        |  round(phi2c, 4) AS phi2_corr,
        |  round(sqrt(phi2c /
        |    (CASE WHEN rc < cc THEN rc ELSE cc END - 1)), 4) AS v_corr
        |FROM y""".stripMargin
    ) { (s, dir) =>
      val cdf = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"),
          parity.floorDiv(kProp, 10).as("b"))
        .agg(count(lit(1)).as("n"))
      val m = cdf
        .withColumn("rm", sum("n").over(Window.partitionBy("t")))
        .withColumn("cm", sum("n").over(Window.partitionBy("b")))
        .withColumn("tot", sum("n").over(Window.partitionBy()))
      val e = col("rm").cast(DoubleType) * col("cm") / col("tot")
      val x = m.agg(
        max("tot").cast(LongType).as("n_total"),
        countDistinct("t").cast(LongType).as("r"),
        countDistinct("b").cast(LongType).as("c"),
        sum((col("n") - e) * (col("n") - e) / e).as("chi2"))
      val (nT, r, c) = (col("n_total"), col("r"), col("c"))
      val y = x.select(nT, r, c,
        greatest(lit(0.0), col("chi2") / nT -
          ((r - 1) * (c - 1)).cast(DoubleType) / (nT - 1)).as("phi2c"),
        (r - ((r - 1) * (r - 1)).cast(DoubleType) / (nT - 1)).as("rc"),
        (c - ((c - 1) * (c - 1)).cast(DoubleType) / (nT - 1)).as("cc"))
      y.select(col("n_total"), r.as("n_rows"), c.as("n_cols"),
        round(col("phi2c"), 4).as("phi2_corr"),
        round(sqrt(col("phi2c") / (least(col("rc"), col("cc")) - 1)), 4)
          .as("v_corr"))
    },

    // ---- #138 categorical information value / weight of evidence -----------
    // The feature-screening pass behind scorecard/feature-selection
    // pipelines: per category, WoE = ln((good_share)/(bad_share)) and its
    // IV contribution. Binary outcome = k ≥ 50. Counts collapse to the
    // 5-row type grain in ONE fact exchange (both conditional counts ride
    // the same partial agg); totals are window sums over the grain; the
    // ln is the one libm step → round(·,4) clamp (tfidf discipline).
    "cat_iv" -> OpDef(
      """WITH c AS (
        |  SELECT event_type AS t,
        |    CAST(COUNT(CASE WHEN CAST(json_extract_string(props, 'k') AS BIGINT)
        |                    >= 50 THEN 1 END) AS BIGINT) AS g,
        |    CAST(COUNT(CASE WHEN CAST(json_extract_string(props, 'k') AS BIGINT)
        |                    < 50 THEN 1 END) AS BIGINT) AS b
        |  FROM events GROUP BY 1),
        |m AS (SELECT t, g, b,
        |        CAST(SUM(g) OVER () AS BIGINT) AS gt,
        |        CAST(SUM(b) OVER () AS BIGINT) AS bt FROM c)
        |SELECT t AS event_type, g AS n_good, b AS n_bad,
        |  round(ln((CAST(g AS DOUBLE) / gt) / (CAST(b AS DOUBLE) / bt)), 4)
        |    AS woe,
        |  round((CAST(g AS DOUBLE) / gt - CAST(b AS DOUBLE) / bt)
        |    * ln((CAST(g AS DOUBLE) / gt) / (CAST(b AS DOUBLE) / bt)), 4)
        |    AS iv_term
        |FROM m ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"))
        .agg(count(when(kProp >= 50, 1)).as("g"),
          count(when(kProp < 50, 1)).as("b"))
      val m = c
        .withColumn("gt", sum("g").over(Window.partitionBy()))
        .withColumn("bt", sum("b").over(Window.partitionBy()))
      val gs = col("g").cast(DoubleType) / col("gt")
      val bs = col("b").cast(DoubleType) / col("bt")
      m.select(col("t").as("event_type"), col("g").as("n_good"),
        col("b").as("n_bad"),
        round(log(gs / bs), 4).as("woe"),
        round((gs - bs) * log(gs / bs), 4).as("iv_term"))
        .orderBy("event_type")
    },

    // ---- #139 fixed-resolution timing quantiles (CH quantileTiming) --------
    // The latency-quantile scheme that stays EXACT at any volume by
    // bounding the grain, not the data: cent values land in fixed buckets
    // (exact < 1024, 16-step < 32768, 256-step < 65536, capped 65535) —
    // ≤ ~3.3k distinct buckets EVER, so the per-type quantile scan is a
    // tiny integer threshold pass (2·cum ≥ n cross-multiplication, the
    // quantiles_exact_weighted discipline). No floats anywhere. This is
    // the 100 TB answer when the raw 2-dp grain pin would not hold.
    "quantile_timing" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (
        |  SELECT t,
        |    CASE WHEN c < 1024 THEN c
        |         WHEN c < 32768 THEN (c // 16) * 16
        |         WHEN c < 65536 THEN (c // 256) * 256
        |         ELSE 65535 END AS bk,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT t, bk, cnt,
        |    SUM(cnt) OVER (PARTITION BY t ORDER BY bk) AS cum,
        |    SUM(cnt) OVER (PARTITION BY t) AS n
        |  FROM g)
        |SELECT t AS event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  MIN(CASE WHEN 2 * cum >= n THEN bk END) AS q50_c,
        |  MIN(CASE WHEN 10 * cum >= 9 * n THEN bk END) AS q90_c,
        |  MIN(CASE WHEN 100 * cum >= 99 * n THEN bk END) AS q99_c
        |FROM w GROUP BY t ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val bk = when(col("c") < 1024, col("c"))
        .when(col("c") < 32768, floor(col("c") / 16) * 16)
        .when(col("c") < 65536, floor(col("c") / 256) * 256)
        .otherwise(lit(65535L))
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"))
        .groupBy(col("t"), bk.cast(LongType).as("bk"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("t").orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = g
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("t")))
      w.groupBy("t").agg(max("n").cast(LongType).as("n"),
        min(when(lit(2) * col("cum") >= col("n"), col("bk"))).as("q50_c"),
        min(when(lit(10) * col("cum") >= lit(9) * col("n"), col("bk")))
          .as("q90_c"),
        min(when(lit(100) * col("cum") >= lit(99) * col("n"), col("bk")))
          .as("q99_c"))
        .select(col("t").as("event_type"), col("n"), col("q50_c"),
          col("q90_c"), col("q99_c"))
        .orderBy("event_type")
    },

    // ---- #140 conditional top-k: the CH -If combinator on the typed agg ----
    // topKIf(user, 10)(k ≥ 50): the predicate rides INSIDE the aggregate
    // as a null (TopKAgg skips nulls — the -If wire contract), so the
    // same space-saving partial buffers / merge path serve the
    // conditional form with zero plan change; exact under the same
    // CapacityPins regime as #56 (filtered cardinality ≤ total).
    "topk_if" -> OpDef(
      """WITH f AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events
        |  WHERE CAST(json_extract_string(props, 'k') AS BIGINT) >= 50),
        |c AS (SELECT event_type, u, COUNT(*) AS cnt FROM f GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, u,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY cnt DESC, u) AS rn
        |  FROM c)
        |SELECT event_type, string_agg(u, ',' ORDER BY rn) AS top_users
        |FROM r WHERE rn <= 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(concat_ws(",", call_function("topk_approx",
          when(kProp >= 50, col("user_id").cast(StringType)),
          lit(10), lit(CapacityPins.TopKCap))).as("top_users"))
        .orderBy("event_type")
    },

    // ---- #141 bigram conditional probabilities (corpus LM pass) ------------
    // P(b|a) = c(a,b)/c(a) over adjacent token pairs — the n-gram LM /
    // completion-statistics pass a tokenizer-and-data team runs at corpus
    // scale. Pair stream = the bpe_pair_stats zip (codegen, rides the
    // scan); c(a,b) is ONE pair-grain collapse; c(a) is a window sum over
    // the COLLAPSED grain (never the raw stream — the dedup_substring df
    // move); contexts pre-filtered to c(a) ≥ 100 BEFORE the bounded
    // top-context rank, so the single-partition rank sees only heavy
    // contexts at any corpus size. p is one exact-integer IEEE divide —
    // bit-identical, no clamp.
    "bigram_condprob" -> OpDef(
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1])) AS pr
        |  FROM t),
        |c AS (
        |  SELECT split_part(pr, ' ', 1) AS a, split_part(pr, ' ', 2) AS b,
        |    CAST(COUNT(*) AS BIGINT) AS cab
        |  FROM p GROUP BY 1, 2),
        |w AS (
        |  SELECT a, b, cab, CAST(SUM(cab) OVER (PARTITION BY a) AS BIGINT) AS ca,
        |    ROW_NUMBER() OVER (PARTITION BY a ORDER BY cab DESC, b) AS rn
        |  FROM c),
        |ctx AS (
        |  SELECT a, ROW_NUMBER() OVER (ORDER BY ca DESC, a) AS cr
        |  FROM (SELECT DISTINCT a, ca FROM w WHERE ca >= 100))
        |SELECT w.a, w.b, w.cab, w.ca,
        |  CAST(w.cab AS DOUBLE) / w.ca AS p_cond
        |FROM w JOIN ctx ON w.a = ctx.a
        |WHERE ctx.cr <= 20 AND w.rn <= 3
        |ORDER BY w.a, w.rn""".stripMargin
    ) { (s, dir) =>
      val ts = split(col("text"), " ")
      val n1 = greatest(size(ts) - 1, lit(0))
      val pairs = Tables(s, dir, "documents")
        .select(explode(arrays_zip(
          slice(ts, lit(1), n1).as("a"), slice(ts, lit(2), n1).as("b"))).as("p"))
        .select(col("p").getField("a").as("a"), col("p").getField("b").as("b"))
      val c = pairs.groupBy("a", "b").agg(count(lit(1)).as("cab"))
      val w = c
        .withColumn("ca", sum("cab").over(Window.partitionBy("a"))
          .cast(LongType))
        .withColumn("rn", row_number().over(
          Window.partitionBy("a").orderBy(col("cab").desc, col("b"))))
      val ctx = w.filter(col("ca") >= 100).select("a", "ca").distinct()
        .withColumn("cr", row_number().over(
          Window.orderBy(col("ca").desc, col("a"))))
        .filter(col("cr") <= 20)
      w.join(broadcast(ctx.select("a")), "a")
        .filter(col("rn") <= 3)
        .select(col("a"), col("b"), col("cab"), col("ca"),
          (col("cab").cast(DoubleType) / col("ca")).as("p_cond"))
        .orderBy("a", "rn")
        .select("a", "b", "cab", "ca", "p_cond")
    },

    // ---- #142 unigram surprisal (perplexity-proxy quality signal) ----------
    // Mean −ln P(tok) per document under the corpus unigram LM — the
    // cheap perplexity stand-in LLM curation pipelines cut on before
    // paying for a model. Corpus token counts = ONE token-grain collapse;
    // docs join the counts on tok (hash join — the vocab is corpus-scale,
    // never collected); the corpus total is a 1-row broadcast. Every
    // token in the corpus has c ≥ 1, so no smoothing term. The per-doc
    // ln fold is order-dependent → round(·,4) clamp. Output bounded to
    // doc_id < 100 (the filter prunes the fact side BEFORE the join;
    // counts still come from the full corpus).
    "unigram_surprisal" -> OpDef(
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM c)
        |SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  round(SUM(-ln(CAST(c.cnt AS DOUBLE) / tt)) / COUNT(*), 4)
        |    AS surprisal
        |FROM w JOIN c ON w.tok = c.tok CROSS JOIN tot
        |WHERE w.doc_id < 100
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin
    ) { (s, dir) =>
      val docsT = Tables(s, dir, "documents")
      val w = docsT.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      val c = w.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val tot = c.agg(sum("cnt").cast(LongType).as("tt"))
      w.filter(col("doc_id") < 100)
        .join(c, "tok")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          round(sum(-log(col("cnt").cast(DoubleType) / col("tt")))
            / count(lit(1)), 4).as("surprisal"))
        .orderBy("doc_id")
    },

    // ---- #283 bigram surprisal (conditional-LM quality signal, r12) --------
    // Mean −ln P(w₂|w₁) per document under the corpus bigram LM — the
    // next-order #142: a doc of individually common words in UNUSUAL
    // order scores high here while unigram surprisal misses it (and it is
    // the cheap stand-in for model-perplexity curation cuts, DSIR/CCNet
    // lineage). LM = ONE bigram-grain collapse with the context total as
    // a grain window (no unigram join-back, the #141 shape); docs join
    // the LM on (a, b) — hash join, LM stays distributed (O(observed
    // bigrams), never collected; at the 2^20-vocab scale the LM is
    // corpus-sized and a broadcast would be the mistake). Every doc
    // bigram exists in the LM by construction (the LM is fit on the same
    // corpus) → no smoothing branch. Per-doc ln fold is order-dependent →
    // round(·,4) clamp; output bounded to doc_id < 100 (the filter prunes
    // the fact side BEFORE the join; the LM build still scans the corpus,
    // as it must).
    "bigram_surprisal" -> OpDef(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1])) AS pr
        |  FROM t),
        |pp AS (
        |  SELECT doc_id, split_part(pr, ' ', 1) AS a, split_part(pr, ' ', 2) AS b
        |  FROM p),
        |c AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM pp GROUP BY 1, 2),
        |w AS (
        |  SELECT a, b, cab,
        |    CAST(SUM(cab) OVER (PARTITION BY a) AS BIGINT) AS ca
        |  FROM c)
        |SELECT pp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  round(SUM(-ln(CAST(w.cab AS DOUBLE) / w.ca)) / COUNT(*), 4)
        |    AS surprisal2
        |FROM pp JOIN w USING (a, b)
        |WHERE pp.doc_id < 100
        |GROUP BY pp.doc_id ORDER BY pp.doc_id""".stripMargin
    ) { (s, dir) =>
      val ts = split(col("text"), " ")
      val n1 = greatest(size(ts) - 1, lit(0))
      val pp = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(arrays_zip(
          slice(ts, lit(1), n1).as("a"), slice(ts, lit(2), n1).as("b"))).as("p"))
        .select(col("doc_id"), col("p").getField("a").as("a"),
          col("p").getField("b").as("b"))
      val lm = pp.groupBy("a", "b").agg(count(lit(1)).as("cab"))
        .withColumn("ca",
          sum("cab").over(Window.partitionBy("a")).cast(LongType))
      pp.filter(col("doc_id") < 100)
        .join(lm, Seq("a", "b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(-log(col("cab").cast(DoubleType) / col("ca")))
            / count(lit(1)), 4).as("surprisal2"))
        .orderBy("doc_id")
    },

    // ---- #143 timing-quantile state/merge re-aggregation -------------------
    // The -State/-Merge pattern WITHOUT a custom wire format: the
    // quantile_timing bucket counts are ADDITIVE, so the persisted
    // per-(type, day) state cells (what a rollup table stores per flush)
    // re-aggregate per type by plain SUM — and the result is bit-equal to
    // the one-pass #139 at any split of the data (spec-pinned). This is
    // how a 100 TB sink maintains latency quantiles incrementally: fold
    // each batch into cells, never rescan history.
    "quantile_timing_reagg" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |st AS (
        |  SELECT t, day,
        |    CASE WHEN c < 1024 THEN c
        |         WHEN c < 32768 THEN (c // 16) * 16
        |         WHEN c < 65536 THEN (c // 256) * 256
        |         ELSE 65535 END AS bk,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM f GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT t, bk, CAST(SUM(cnt) AS BIGINT) AS cnt FROM st GROUP BY 1, 2),
        |w AS (
        |  SELECT t, bk, cnt,
        |    SUM(cnt) OVER (PARTITION BY t ORDER BY bk) AS cum,
        |    SUM(cnt) OVER (PARTITION BY t) AS n
        |  FROM m)
        |SELECT t AS event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  MIN(CASE WHEN 2 * cum >= n THEN bk END) AS q50_c,
        |  MIN(CASE WHEN 10 * cum >= 9 * n THEN bk END) AS q90_c,
        |  MIN(CASE WHEN 100 * cum >= 99 * n THEN bk END) AS q99_c
        |FROM w GROUP BY t ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val bk = when(col("c") < 1024, col("c"))
        .when(col("c") < 32768, floor(col("c") / 16) * 16)
        .when(col("c") < 65536, floor(col("c") / 256) * 256)
        .otherwise(lit(65535L))
      // state cells: what a rollup table persists per (type, day) flush
      val st = Tables(s, dir, "events")
        .select(col("event_type").as("t"),
          date_format(col("ts").cast(DateType), "yyyy-MM-dd").as("day"),
          centsL.as("c"))
        .groupBy(col("t"), col("day"), bk.cast(LongType).as("bk"))
        .agg(count(lit(1)).as("cnt"))
      // merge: additive cells collapse by plain SUM — no custom merge code
      val m = st.groupBy("t", "bk").agg(sum("cnt").cast(LongType).as("cnt"))
      val wCum = Window.partitionBy("t").orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = m
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("t")))
      w.groupBy("t").agg(max("n").cast(LongType).as("n"),
        min(when(lit(2) * col("cum") >= col("n"), col("bk"))).as("q50_c"),
        min(when(lit(10) * col("cum") >= lit(9) * col("n"), col("bk")))
          .as("q90_c"),
        min(when(lit(100) * col("cum") >= lit(99) * col("n"), col("bk")))
          .as("q99_c"))
        .select(col("t").as("event_type"), col("n"), col("q50_c"),
          col("q90_c"), col("q99_c"))
        .orderBy("event_type")
    },

    // ---- #144 Zipf exponent fit (corpus health diagnostic) -----------------
    // log-log regression of token frequency on rank over the top-1000
    // tokens — the standard check that a corpus has natural-language
    // frequency structure (slope ≈ −1) rather than boilerplate/spam. The
    // top-1000 selection is a DISTRIBUTED TakeOrderedAndProject (per-
    // partition partial top-k, never a vocab-wide single-partition
    // window); the rank window then runs on 1000 rows — constant work at
    // any corpus size. ln folds → round(·,4) clamp.
    "zipf_fit" -> OpDef(
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
        |r AS (
        |  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rn
        |  FROM c QUALIFY rn <= 1000),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(ln(CAST(rn AS DOUBLE))) AS sx,
        |    SUM(ln(CAST(cnt AS DOUBLE))) AS sy,
        |    SUM(ln(CAST(rn AS DOUBLE)) * ln(CAST(rn AS DOUBLE))) AS sxx,
        |    SUM(ln(CAST(rn AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))) AS sxy
        |  FROM r)
        |SELECT n AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
        |    AS intercept
        |FROM s""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val top = c.orderBy(col("cnt").desc, col("tok")).limit(1000)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))))
      val (lx, ly) = (log(col("rn").cast(DoubleType)),
        log(col("cnt").cast(DoubleType)))
      val agg = top.agg(count(lit(1)).as("n"),
        sum(lx).as("sx"), sum(ly).as("sy"),
        sum(lx * lx).as("sxx"), sum(lx * ly).as("sxy"))
      val (n, sx, sy, sxx, sxy) =
        (col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"))
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      agg.select(n.as("n_terms"),
        round(slope, 4).as("zipf_slope"),
        round((sy - slope * sx) / n, 4).as("intercept"))
    },

    // ---- #145 Jensen-Shannon divergence per segment ------------------------
    // Distribution-drift signal: JSD between each event_type's k-decile
    // distribution and the corpus-wide one — the symmetric, bounded [0,1]
    // alternative to KL that data-quality monitors use. Counts collapse
    // to the ≤50-cell (type, decile) grain in ONE fact exchange; margins
    // ride window sums over the grain; the ≤10-term log2 fold per type →
    // round(·,4) clamp. Cells absent from a segment contribute 0 (the
    // plug-in estimator) — identically on both engines.
    "js_divergence" -> OpDef(
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
        |SELECT t AS event_type,
        |  round(SUM(0.5 * p * log2(p / ((p + q) / 2))
        |          + 0.5 * q * log2(q / ((p + q) / 2))), 4) AS jsd
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
      val mid = (p + q) / 2
      m.select(col("t"),
        (lit(0.5) * p * log2(p / mid) + lit(0.5) * q * log2(q / mid)).as("j"))
        .groupBy("t").agg(round(sum("j"), 4).as("jsd"))
        .select(col("t").as("event_type"), col("jsd"))
        .orderBy("event_type")
    },

    // ---- #146 population stability index (train/serve drift) ---------------
    // THE production drift metric: PSI between the first and second half
    // of the time range, per k-decile. The cut is derived from the data's
    // own day bounds ((min+max+1)/2 — deterministic integer arithmetic),
    // arrives as a 1-row broadcast, and both period counts ride ONE
    // conditional partial agg to the 10-row decile grain. ln → round(·,4).
    "psi_drift" -> OpDef(
      """WITH f AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) // 10 AS b
        |  FROM events),
        |bd AS (SELECT (MIN(d) + MAX(d) + 1) // 2 AS cut FROM f),
        |c AS (
        |  SELECT b,
        |    CAST(COUNT(CASE WHEN d < cut THEN 1 END) AS BIGINT) AS np,
        |    CAST(COUNT(CASE WHEN d >= cut THEN 1 END) AS BIGINT) AS nq
        |  FROM f CROSS JOIN bd GROUP BY b),
        |m AS (
        |  SELECT b, np, nq,
        |    CAST(SUM(np) OVER () AS BIGINT) AS tp,
        |    CAST(SUM(nq) OVER () AS BIGINT) AS tq
        |  FROM c)
        |SELECT b AS decile, np AS n_ref, nq AS n_cur,
        |  round((CAST(np AS DOUBLE) / tp - CAST(nq AS DOUBLE) / tq)
        |    * ln((CAST(np AS DOUBLE) / tp) / (CAST(nq AS DOUBLE) / tq)), 4)
        |    AS psi_term
        |FROM m ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val f = Tables(s, dir, "events")
        .select(datediff(col("ts").cast(DateType),
          to_date(lit("1970-01-01"))).as("d"),
          parity.floorDiv(kProp, 10).as("b"))
      val bd = f.agg(floor((min("d") + max("d") + 1) / 2).as("cut"))
      val c = f.crossJoin(broadcast(bd))
        .groupBy("b")
        .agg(count(when(col("d") < col("cut"), 1)).as("np"),
          count(when(col("d") >= col("cut"), 1)).as("nq"))
      val m = c
        .withColumn("tp", sum("np").over(Window.partitionBy()))
        .withColumn("tq", sum("nq").over(Window.partitionBy()))
      val p = col("np").cast(DoubleType) / col("tp")
      val q = col("nq").cast(DoubleType) / col("tq")
      m.select(col("b").as("decile"), col("np").as("n_ref"),
        col("nq").as("n_cur"),
        round((p - q) * log(p / q), 4).as("psi_term"))
        .orderBy("decile")
    },

    // ---- #148 quantileTimingIf — the -If cross-combinator ------------------
    // The predicate (k ≥ 50) lives INSIDE the aggregate as a conditional
    // count at the same (type, bucket) cell grain as #139 — the cells a
    // shared scan would co-compute with the unconditional quantiles, the
    // way CH evaluates quantileTimingIf next to quantileTiming in one
    // pass. Zero extra exchanges vs the unconditional form; zero-count
    // cells ride the grain and never shift a threshold crossing (cum is
    // flat across them, and MIN picks the first crossing bucket).
    "quantile_timing_if" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |st AS (
        |  SELECT t,
        |    CASE WHEN c < 1024 THEN c
        |         WHEN c < 32768 THEN (c // 16) * 16
        |         WHEN c < 65536 THEN (c // 256) * 256
        |         ELSE 65535 END AS bk,
        |    CAST(COUNT(CASE WHEN k >= 50 THEN 1 END) AS BIGINT) AS cnt
        |  FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT t, bk, cnt,
        |    SUM(cnt) OVER (PARTITION BY t ORDER BY bk) AS cum,
        |    SUM(cnt) OVER (PARTITION BY t) AS n
        |  FROM st)
        |SELECT t AS event_type, CAST(MAX(n) AS BIGINT) AS n_if,
        |  MIN(CASE WHEN cum > 0 AND 2 * cum >= n THEN bk END) AS q50_c,
        |  MIN(CASE WHEN cum > 0 AND 10 * cum >= 9 * n THEN bk END) AS q90_c,
        |  MIN(CASE WHEN cum > 0 AND 100 * cum >= 99 * n THEN bk END) AS q99_c
        |FROM w GROUP BY t ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val bk = when(col("c") < 1024, col("c"))
        .when(col("c") < 32768, floor(col("c") / 16) * 16)
        .when(col("c") < 65536, floor(col("c") / 256) * 256)
        .otherwise(lit(65535L))
      val st = Tables(s, dir, "events")
        .select(col("event_type").as("t"), kProp.as("k"), centsL.as("c"))
        .groupBy(col("t"), bk.cast(LongType).as("bk"))
        .agg(count(when(col("k") >= 50, 1)).as("cnt"))
      val wCum = Window.partitionBy("t").orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = st
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("t")))
      def q(cond: Column): Column = min(when(col("cum") > 0 && cond, col("bk")))
      w.groupBy("t").agg(max("n").cast(LongType).as("n_if"),
        q(lit(2) * col("cum") >= col("n")).as("q50_c"),
        q(lit(10) * col("cum") >= lit(9) * col("n")).as("q90_c"),
        q(lit(100) * col("cum") >= lit(99) * col("n")).as("q99_c"))
        .select(col("t").as("event_type"), col("n_if"), col("q50_c"),
          col("q90_c"), col("q99_c"))
        .orderBy("event_type")
    },

    // ---- #149 regression goodness-of-fit, closed form ----------------------
    // R²/RMSE for the #136 two-feature model WITHOUT a scoring pass:
    // SSE = Σy² − (b0·Σy + bk·Σky + bw·Σwy) (the normal-equation
    // identity), SST = Σy² − (Σy)²/n — so fit diagnostics come from the
    // SAME exact-integer moment sums as the fit itself. One partial-agg
    // exchange; at 100 TB this is the difference between diagnosing a
    // model and re-reading the corpus to score it. Scalar IEEE on the
    // 5-row grain → round(·,4) clamp.
    "linreg_fit_stats" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |    date_part('dow', CAST(ts AS DATE)) AS w
        |  FROM events),
        |m AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(k) AS DOUBLE) AS sk, CAST(SUM(w) AS DOUBLE) AS sw,
        |    CAST(SUM(CAST(k AS HUGEINT) * k) AS DOUBLE) AS skk,
        |    CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE) AS sww,
        |    CAST(SUM(CAST(k AS HUGEINT) * w) AS DOUBLE) AS skw,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(k AS HUGEINT) * y) AS DOUBLE) AS sky,
        |    CAST(SUM(CAST(w AS HUGEINT) * y) AS DOUBLE) AS swy,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |  FROM f GROUP BY t),
        |b AS (
        |  SELECT t, n, sy, sky, swy, syy,
        |    (sy*(skk*sww - skw*skw) - sk*(sky*sww - skw*swy)
        |       + sw*(sky*skw - skk*swy))
        |      / (n*(skk*sww - skw*skw) - sk*(sk*sww - skw*sw)
        |         + sw*(sk*skw - skk*sw)) AS b0,
        |    (n*(sky*sww - skw*swy) - sy*(sk*sww - skw*sw)
        |       + sw*(sk*swy - sky*sw))
        |      / (n*(skk*sww - skw*skw) - sk*(sk*sww - skw*sw)
        |         + sw*(sk*skw - skk*sw)) AS bk,
        |    (n*(skk*swy - sky*skw) - sk*(sk*swy - sky*sw)
        |       + sy*(sk*skw - skk*sw))
        |      / (n*(skk*sww - skw*skw) - sk*(sk*sww - skw*sw)
        |         + sw*(sk*skw - skk*sw)) AS bw
        |  FROM m)
        |SELECT t AS event_type, n,
        |  round(1 - (syy - (b0*sy + bk*sky + bw*swy))
        |          / (syy - sy*sy/n), 4) AS r2,
        |  round(sqrt((syy - (b0*sy + bk*sky + bw*swy)) / n), 4) AS rmse
        |FROM b ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val w = (dayofweek(col("ts").cast(DateType)) - 1).cast(LongType)
      val f = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("y"), kProp.as("k"),
          w.as("w"))
      def sq(a: String, b: String) =
        sum(col(a).cast(big) * col(b).cast(big)).cast(DoubleType)
      val m = f.groupBy("t").agg(
        count(lit(1)).as("n"),
        sum("k").cast(DoubleType).as("sk"), sum("w").cast(DoubleType).as("sw"),
        sq("k", "k").as("skk"), sq("w", "w").as("sww"), sq("k", "w").as("skw"),
        sum("y").cast(DoubleType).as("sy"),
        sq("k", "y").as("sky"), sq("w", "y").as("swy"), sq("y", "y").as("syy"))
      val (n, sk, sw) = (col("n"), col("sk"), col("sw"))
      val (skk, sww, skw) = (col("skk"), col("sww"), col("skw"))
      val (sy, sky, swy, syy) = (col("sy"), col("sky"), col("swy"), col("syy"))
      val det = n * (skk * sww - skw * skw) - sk * (sk * sww - skw * sw) +
        sw * (sk * skw - skk * sw)
      val b0 = (sy * (skk * sww - skw * skw) - sk * (sky * sww - skw * swy) +
        sw * (sky * skw - skk * swy)) / det
      val bK = (n * (sky * sww - skw * swy) - sy * (sk * sww - skw * sw) +
        sw * (sk * swy - sky * sw)) / det
      val bW = (n * (skk * swy - sky * skw) - sk * (sk * swy - sky * sw) +
        sy * (sk * skw - skk * sw)) / det
      val sse = syy - (b0 * sy + bK * sky + bW * swy)
      m.select(col("t").as("event_type"), n,
        round(lit(1) - sse / (syy - sy * sy / n), 4).as("r2"),
        round(sqrt(sse / n), 4).as("rmse"))
        .orderBy("event_type")
    },

    // ---- #150 Benford first-digit audit ------------------------------------
    // The fraud/data-quality screen: observed first-significant-digit
    // distribution of the cents values vs Benford's log10(1 + 1/d), with
    // per-digit χ² terms. The digit comes from the DECIMAL STRING of the
    // exact integer cents — never floor(log10(x)) (whose IEEE rounding at
    // powers of 10 is engine-dependent). One collapse to a 9-row grain;
    // margins ride a grain window; scalar IEEE → round(·,4).
    "benford_digits" -> OpDef(
      """WITH f AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |d AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM f WHERE c > 0),
        |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |m AS (SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS tot FROM g)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / tot, 4) AS p_obs,
        |  round(log10(1 + 1.0 / digit), 4) AS p_benford,
        |  round(pow(CAST(n AS DOUBLE) / tot - log10(1 + 1.0 / digit), 2)
        |        / log10(1 + 1.0 / digit), 4) AS chi2_term
        |FROM m ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(centsL.as("c"))
        .filter(col("c") > 0)
        .select(substring(col("c").cast(StringType), 1, 1)
          .cast(LongType).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val m = g.withColumn("tot", sum("n").over(Window.partitionBy()))
      val pObs = col("n").cast(DoubleType) / col("tot")
      val pBen = log10(lit(1) + lit(1.0) / col("digit"))
      m.select(col("digit"), col("n"),
        round(pObs, 4).as("p_obs"),
        round(pBen, 4).as("p_benford"),
        round(pow(pObs - pBen, 2) / pBen, 4).as("chi2_term"))
        .orderBy("digit")
    },

    // ---- #151 exact two-sided trimmed mean ---------------------------------
    // 10%-trimmed mean per type, exact at any SF: facts collapse to the
    // (type, cents) value grain; the trim boundaries are integer ranks
    // (k = n/10 from each side); each grain row contributes
    // max(0, min(cum, n−k) − max(cum−cnt, k)) copies — pure integer
    // clamp arithmetic riding the grain windows, so ties straddling a
    // boundary split exactly. Numerator accumulates in DECIMAL(38,0)
    // (the skew_kurt discipline) before ONE double divide → round(·,4).
    "trimmed_mean" -> OpDef(
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
        |x AS (
        |  SELECT t, c, n,
        |    GREATEST(CAST(0 AS BIGINT),
        |      LEAST(cum, n - n // 10) - GREATEST(cum - cnt, n // 10)) AS inc
        |  FROM w)
        |SELECT t AS event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(n) - 2 * (MAX(n) // 10) AS BIGINT) AS n_kept,
        |  round(CAST(SUM(CAST(c AS HUGEINT) * inc) AS DOUBLE)
        |        / (MAX(n) - 2 * (MAX(n) // 10)), 4) AS tmean_cents
        |FROM x GROUP BY t ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"))
        .groupBy("t", "c").agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("t").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = g
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("t")))
      val k = floor(col("n") / 10).cast(LongType)
      val x = w.select(col("t"), col("c"), col("n"),
        greatest(lit(0L),
          least(col("cum"), col("n") - k) -
            greatest(col("cum") - col("cnt"), k)).as("inc"))
      val kept = max("n").cast(LongType) -
        lit(2) * floor(max("n") / 10).cast(LongType)
      x.groupBy("t").agg(max("n").cast(LongType).as("n"),
        kept.as("n_kept"),
        round(sum(col("c").cast(big) * col("inc").cast(big)).cast(DoubleType)
          / kept, 4).as("tmean_cents"))
        .select(col("t").as("event_type"), col("n"), col("n_kept"),
          col("tmean_cents"))
        .orderBy("event_type")
    }
  )
}
