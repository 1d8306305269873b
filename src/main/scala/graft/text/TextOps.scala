package graft.text

import graft.OpDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.3 #36-39 — text analysis for a training-data pipeline.
  *
  * Every operator here is a pure narrow column expression (split /
  * higher-order array functions / md5), so at 100 TB these run with ZERO
  * shuffle and stay inside whole-stage codegen: throughput is parquet-scan
  * bound. No UDFs.
  */
object TextOps {

  /** Per-language stopword lexicons (tiny, inlined as literals on both
    * engines — broadcast-free).
    */
  val lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "es" -> Seq("el", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est")
  )

  private def sqlList(ws: Seq[String]): String = ws.mkString("['", "', '", "']")

  /** DuckDB spelling of the 32-bit gram hash (first 8 md5 hex chars — the
    * dedup-family h32, shared so tok_coverage ranks the same keys).
    */
  private def h32Sql(e: String): String =
    s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  // whitespace tokenizer shared by every text query (and the capacity-regime
  // guard, which must count distinct tokens with the SAME tokenization)
  private[graft] val words: Column = split(col("text"), " ")

  /** PUBLIC quality scoring (#37) over any (doc_id, text) frame — the
    * length/duplication/stopword signal bank, one stateless codegen pass
    * (native `count_in`; a filter() lambda would run interpreted). Shared
    * by the `text_quality` query and the streaming curation pipeline
    * ([[graft.streaming.CurateStream]]).
    */
  def qualityOf(docsDf: DataFrame): DataFrame = {
    val enLex = array(lexicons(1)._2.map(lit): _*)
    docsDf
      .select(col("doc_id"), length(col("text")).as("n_chars"), words.as("ws"))
      .select(col("doc_id"), col("n_chars"), size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("n_distinct"),
        call_function("count_in", col("ws"), enLex).as("n_stop"))
      .select(
        col("doc_id"),
        col("n_chars").cast(LongType).as("n_chars"),
        col("n_words").cast(LongType).as("n_words"),
        round((col("n_chars") - col("n_words") + 1).cast(DoubleType) / col("n_words"), 4)
          .as("avg_word_len"),
        round(col("n_distinct").cast(DoubleType) / col("n_words"), 4).as("distinct_ratio"),
        round(col("n_stop").cast(DoubleType) / col("n_words"), 4).as("stop_ratio"),
        round(least(col("n_words").cast(DoubleType), lit(100.0)) / 100.0
          * (lit(0.5) + lit(0.5) * (col("n_distinct").cast(DoubleType) / col("n_words"))), 4)
          .as("quality"))
  }

  val defs: Map[String, OpDef] = Map(
    // ---- #36 language ID: stopword-hit argmax ----------------------------
    // hits(lang) = |distinct(words) ∩ lexicon(lang)|; argmax with a fixed
    // en>de>fr>es ≥-chain tie-break; 0 hits → 'und'.
    "text_langid" -> OpDef(
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    len(list_intersect(ws, ${sqlList(lexicons(1)._2)})) AS h_en,
         |    len(list_intersect(ws, ${sqlList(lexicons(0)._2)})) AS h_de,
         |    len(list_intersect(ws, ${sqlList(lexicons(3)._2)})) AS h_fr,
         |    len(list_intersect(ws, ${sqlList(lexicons(2)._2)})) AS h_es
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'und'
         |       WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
         |       WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
         |       WHEN h_fr >= h_es THEN 'fr'
         |       ELSE 'es' END AS pred_lang,
         |  CAST(greatest(h_en, h_de, h_fr, h_es) AS BIGINT) AS n_hits
         |FROM h ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val ws = array_distinct(words)
      def hits(lex: Seq[String]): Column =
        size(array_intersect(ws, array(lex.map(lit): _*)))
      val hEn = hits(lexicons(1)._2); val hDe = hits(lexicons(0)._2)
      val hFr = hits(lexicons(3)._2); val hEs = hits(lexicons(2)._2)
      Tables(s, dir, "documents").select(
        col("doc_id"),
        when(hEn === 0 && hDe === 0 && hFr === 0 && hEs === 0, "und")
          .when(hEn >= hDe && hEn >= hFr && hEn >= hEs, "en")
          .when(hDe >= hFr && hDe >= hEs, "de")
          .when(hFr >= hEs, "fr")
          .otherwise("es").as("pred_lang"),
        greatest(hEn, hDe, hFr, hEs).cast(LongType).as("n_hits"))
        .orderBy("doc_id")
    },

    // ---- #277 code-switching / mixed-language detector ---------------------
    // The per-doc signal #36's argmax throws away: how much stopword
    // evidence points AWAY from the winning language. Mixed-language docs
    // (translations pasted together, boilerplate in a second language,
    // mislabeled feeds) poison monolingual training mixes, and a pure
    // argmax scores them confidently. mix_ratio = (Σ hits − max hits) /
    // Σ hits over the four lexicons; mixed = ≥2 foreign hits AND ratio
    // ≥ 0.25. Same distinct-token intersect scan as #36 — stateless, zero
    // shuffle at any SF; the ratio is one exact-integer divide →
    // round(·,4).
    "lang_mix" -> OpDef(
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
         |  FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    len(list_intersect(ws, ${sqlList(lexicons(1)._2)})) AS h_en,
         |    len(list_intersect(ws, ${sqlList(lexicons(0)._2)})) AS h_de,
         |    len(list_intersect(ws, ${sqlList(lexicons(3)._2)})) AS h_fr,
         |    len(list_intersect(ws, ${sqlList(lexicons(2)._2)})) AS h_es
         |  FROM t),
         |m AS (
         |  SELECT doc_id,
         |    CASE WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'und'
         |         WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
         |         WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
         |         WHEN h_fr >= h_es THEN 'fr'
         |         ELSE 'es' END AS pred_lang,
         |    h_en + h_de + h_fr + h_es AS h_tot,
         |    h_en + h_de + h_fr + h_es - greatest(h_en, h_de, h_fr, h_es)
         |      AS h_other
         |  FROM h)
         |SELECT doc_id, pred_lang,
         |  CAST(h_tot AS BIGINT) AS n_hits_total,
         |  CAST(h_other AS BIGINT) AS n_hits_other,
         |  CASE WHEN h_tot > 0
         |       THEN round(CAST(h_other AS DOUBLE) / h_tot, 4) ELSE 0.0 END
         |    AS mix_ratio,
         |  CAST(CASE WHEN h_other >= 2
         |             AND 4 * h_other >= h_tot THEN 1 ELSE 0 END AS BIGINT)
         |    AS mixed
         |FROM m ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val ws = array_distinct(words)
      def hits(lex: Seq[String]): Column =
        size(array_intersect(ws, array(lex.map(lit): _*)))
      val hEn = hits(lexicons(1)._2); val hDe = hits(lexicons(0)._2)
      val hFr = hits(lexicons(3)._2); val hEs = hits(lexicons(2)._2)
      val hTot = hEn + hDe + hFr + hEs
      val hOther = hTot - greatest(hEn, hDe, hFr, hEs)
      Tables(s, dir, "documents").select(
        col("doc_id"),
        when(hEn === 0 && hDe === 0 && hFr === 0 && hEs === 0, "und")
          .when(hEn >= hDe && hEn >= hFr && hEn >= hEs, "en")
          .when(hDe >= hFr && hDe >= hEs, "de")
          .when(hFr >= hEs, "fr")
          .otherwise("es").as("pred_lang"),
        hTot.cast(LongType).as("n_hits_total"),
        hOther.cast(LongType).as("n_hits_other"),
        when(hTot > 0, round(hOther.cast(DoubleType) / hTot, 4))
          .otherwise(0.0).as("mix_ratio"),
        // 4·other ≥ total is the exact-integer spelling of ratio ≥ 0.25 —
        // the flag never compares a rounded double
        when(hOther >= 2 && hOther * 4 >= hTot, 1L).otherwise(0L).as("mixed"))
        .orderBy("doc_id")
    },

    // ---- #189 declared-vs-predicted language confusion matrix -------------
    // The language-metadata audit: crosstab of the corpus's DECLARED lang
    // column against #36's predicted language, with the share within each
    // declared language — where the feed's metadata disagrees with the
    // text, curation must pick a side. Pred is computed inline on the
    // same scan (no join); ONE collapse to the ≤25-cell grain; share
    // rides a grain window; integers + one divide → round(·,4).
    "lang_confusion" -> OpDef(
      s"""WITH t AS (
         |  SELECT lang, list_distinct(string_split(text, ' ')) AS ws
         |  FROM documents),
         |h AS (
         |  SELECT lang,
         |    len(list_intersect(ws, ${sqlList(lexicons(1)._2)})) AS h_en,
         |    len(list_intersect(ws, ${sqlList(lexicons(0)._2)})) AS h_de,
         |    len(list_intersect(ws, ${sqlList(lexicons(3)._2)})) AS h_fr,
         |    len(list_intersect(ws, ${sqlList(lexicons(2)._2)})) AS h_es
         |  FROM t),
         |p AS (
         |  SELECT lang,
         |    CASE WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'und'
         |         WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
         |         WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
         |         WHEN h_fr >= h_es THEN 'fr'
         |         ELSE 'es' END AS pred_lang
         |  FROM h),
         |g AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM p GROUP BY 1, 2)
         |SELECT lang, pred_lang, n,
         |  round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang), 4)
         |    AS share
         |FROM g ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val ws = array_distinct(words)
      def hits(lex: Seq[String]): Column =
        size(array_intersect(ws, array(lex.map(lit): _*)))
      val hEn = hits(lexicons(1)._2); val hDe = hits(lexicons(0)._2)
      val hFr = hits(lexicons(3)._2); val hEs = hits(lexicons(2)._2)
      val g = Tables(s, dir, "documents").select(
          col("lang"),
          when(hEn === 0 && hDe === 0 && hFr === 0 && hEs === 0, "und")
            .when(hEn >= hDe && hEn >= hFr && hEn >= hEs, "en")
            .when(hDe >= hFr && hDe >= hEs, "de")
            .when(hFr >= hEs, "fr")
            .otherwise("es").as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      g.select(col("lang"), col("pred_lang"),
          col("n").cast(LongType).as("n"),
          round(col("n").cast(DoubleType)
            / sum("n").over(Window.partitionBy("lang")), 4).as("share"))
        .orderBy("lang", "pred_lang")
    },

    // ---- #300 Cohen's kappa: declared vs predicted language ---------------
    // The scalar verdict on #189's confusion matrix: chance-corrected
    // agreement between the corpus's DECLARED lang column and #36's
    // prediction. κ = (p_o − p_e)/(1 − p_e) with p_e from the row/column
    // marginals. Same single stateless scan as #189 down to the ≤25-cell
    // grain; marginals and the diagonal fold from that constant-size grain
    // (full-outer on the ≤6 label set so a label present only as
    // prediction still contributes to p_e); integers until the two final
    // divides → round(·, 6). One number a curation run can gate on.
    "langid_kappa" -> OpDef(
      s"""WITH t AS (
         |  SELECT lang, list_distinct(string_split(text, ' ')) AS ws
         |  FROM documents),
         |h AS (
         |  SELECT lang,
         |    len(list_intersect(ws, ${sqlList(lexicons(1)._2)})) AS h_en,
         |    len(list_intersect(ws, ${sqlList(lexicons(0)._2)})) AS h_de,
         |    len(list_intersect(ws, ${sqlList(lexicons(3)._2)})) AS h_fr,
         |    len(list_intersect(ws, ${sqlList(lexicons(2)._2)})) AS h_es
         |  FROM t),
         |p AS (
         |  SELECT lang,
         |    CASE WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'und'
         |         WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
         |         WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
         |         WHEN h_fr >= h_es THEN 'fr'
         |         ELSE 'es' END AS pred_lang
         |  FROM h),
         |g AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM p GROUP BY 1, 2),
         |rowt AS (SELECT lang AS lbl, CAST(SUM(n) AS BIGINT) AS rn
         |         FROM g GROUP BY 1),
         |colt AS (SELECT pred_lang AS lbl, CAST(SUM(n) AS BIGINT) AS cn
         |         FROM g GROUP BY 1),
         |marg AS (
         |  SELECT COALESCE(r.lbl, c.lbl) AS lbl,
         |    CAST(COALESCE(r.rn, 0) AS DECIMAL(19,0))
         |      * CAST(COALESCE(c.cn, 0) AS DECIMAL(19,0)) AS rc
         |  FROM rowt r FULL OUTER JOIN colt c ON c.lbl = r.lbl),
         |tot AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT)
         |      AS n_agree
         |  FROM g),
         |pe AS (SELECT CAST(SUM(rc) AS DOUBLE) AS src FROM marg)
         |SELECT tt.n_docs, tt.n_agree,
         |  round(CAST(tt.n_agree AS DOUBLE) / tt.n_docs, 6) AS po,
         |  round(pe.src / tt.n_docs / tt.n_docs, 6) AS pe,
         |  round((CAST(tt.n_agree AS DOUBLE) / tt.n_docs
         |         - pe.src / tt.n_docs / tt.n_docs)
         |        / (1 - pe.src / tt.n_docs / tt.n_docs), 6) AS kappa
         |FROM tot tt JOIN pe ON TRUE""".stripMargin
    ) { (s, dir) =>
      val ws = array_distinct(words)
      def hits(lex: Seq[String]): Column =
        size(array_intersect(ws, array(lex.map(lit): _*)))
      val hEn = hits(lexicons(1)._2); val hDe = hits(lexicons(0)._2)
      val hFr = hits(lexicons(3)._2); val hEs = hits(lexicons(2)._2)
      val g = Tables(s, dir, "documents").select(
          col("lang"),
          when(hEn === 0 && hDe === 0 && hFr === 0 && hEs === 0, "und")
            .when(hEn >= hDe && hEn >= hFr && hEn >= hEs, "en")
            .when(hDe >= hFr && hDe >= hEs, "de")
            .when(hFr >= hEs, "fr")
            .otherwise("es").as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      // marginal product per label WITHOUT a join: a full-outer on the
      // label set can't broadcast (Spark full-outer ⇒ sort-merge), so the
      // row/column totals stack as a two-sided union and ONE tiny agg
      // pairs them up — zero joins anywhere in the plan.
      val rowt = g.select(col("lang").as("lbl"), col("n").as("rn"),
        lit(0L).as("cn"))
      val colt = g.select(col("pred_lang").as("lbl"), lit(0L).as("rn"),
        col("n").as("cn"))
      val marg = rowt.unionAll(colt).groupBy("lbl")
        .agg(sum("rn").cast(DecimalType(19, 0)).as("rn"),
          sum("cn").cast(DecimalType(19, 0)).as("cn"))
        .select((col("rn") * col("cn")).as("rc"))
      val tot = g.agg(sum("n").cast(LongType).as("n_docs"),
        sum(when(col("lang") === col("pred_lang"), col("n")).otherwise(0L))
          .cast(LongType).as("n_agree"))
      val pe = marg.agg(sum("rc").cast(DoubleType).as("src"))
      val poC = col("n_agree").cast(DoubleType) / col("n_docs")
      val peC = col("src") / col("n_docs") / col("n_docs")
      tot.crossJoin(pe)
        .select(col("n_docs"), col("n_agree"),
          round(poC, 6).as("po"), round(peC, 6).as("pe"),
          round((poC - peC) / (lit(1) - peC), 6).as("kappa"))
    },

    // ---- #37 quality scoring ---------------------------------------------
    // length / duplication / stopword signals; identical double expression
    // shape on both engines, round(·,4) for parity.
    "text_quality" -> OpDef(
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_chars, len(ws) AS n_words,
        |    len(list_distinct(ws)) AS n_distinct,
        |    len(list_filter(ws, w -> list_contains(['the','and','of','to','in','is','a'], w))) AS n_stop
        |  FROM t)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_words AS BIGINT) AS n_words,
        |  round(CAST(n_chars - n_words + 1 AS DOUBLE) / n_words, 4) AS avg_word_len,
        |  round(CAST(n_distinct AS DOUBLE) / n_words, 4) AS distinct_ratio,
        |  round(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio,
        |  round(least(CAST(n_words AS DOUBLE), 100.0) / 100.0
        |        * (0.5 + 0.5 * (CAST(n_distinct AS DOUBLE) / n_words)), 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin
    ) { (s, dir) => qualityOf(Tables(s, dir, "documents")).orderBy("doc_id") },

    // ---- #302 per-doc word entropy -----------------------------------------
    // Shannon entropy of the within-doc word distribution — the repetition
    // signal #37's distinct_ratio only sees coarsely (a doc that is one
    // phrase looped has low H long before its type count collapses). The
    // identity H = ln n − (Σ c·ln c)/n keeps every per-row term a function
    // of the INTEGER count c (no per-type division), so the only
    // order-dependent fold is one Σ c·ln c per doc → round(·,4). Norm form
    // divides by ln(n_types) (the max-entropy bound). Scale: token-grain
    // exchange on (doc_id, w), then the doc collapse rides the same key
    // prefix; output bounded by the pushed doc_id < 100 scan filter (the
    // bigram_surprisal pattern).
    "word_entropy" -> OpDef(
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id < 100),
        |c AS (
        |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sl
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types,
        |  round(ln(CAST(n_tokens AS DOUBLE)) - sl / n_tokens, 4) AS entropy,
        |  CASE WHEN n_types > 1 THEN
        |    round((ln(CAST(n_tokens AS DOUBLE)) - sl / n_tokens)
        |          / ln(CAST(n_types AS DOUBLE)), 4) END AS norm_entropy
        |FROM a ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), explode(words).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val a = c.groupBy("doc_id")
        .agg(sum("c").cast(LongType).as("n_tokens"),
          count(lit(1)).cast(LongType).as("n_types"),
          sum(col("c").cast(DoubleType) * log(col("c").cast(DoubleType)))
            .as("sl"))
      val h = log(col("n_tokens").cast(DoubleType)) - col("sl") / col("n_tokens")
      a.select(col("doc_id"), col("n_tokens"), col("n_types"),
          round(h, 4).as("entropy"),
          when(col("n_types") > 1,
            round(h / log(col("n_types").cast(DoubleType)), 4))
            .as("norm_entropy"))
        .orderBy("doc_id")
    },

    // ---- #303 duplicate-vs-quality bias audit ------------------------------
    // Are duplicates LOWER quality than unique docs? The curation question
    // behind every "dedup first or filter first" pipeline-order decision,
    // answered per lang: mean #37 quality composite for dup-family members
    // vs singletons plus the point-biserial correlation
    // r = (m̄₁−m̄₀)/σ_q·√(p(1−p)). Dup membership = the #29b NORMALIZED
    // canonical key's family size > 1 (lower → distinct words → sort →
    // md5 — raw-text md5 matches nothing below sf0.1, which would make
    // this audit vacuous at the gate SF); the 16-byte digest shuffles,
    // never the text, and family sizes hash-join back on it (corpus-sized
    // ⇒ NOT broadcast at scale). The quality composite is the #37 codegen
    // chain; group folds are doubles (same-spelled IEEE both engines) →
    // round(·,4); degenerate groups (no dups / no σ) yield NULL under
    // identical exact predicates.
    "dup_quality_bias" -> OpDef(
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split(lower(text), ' '))), ' ')) AS k,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(list_distinct(string_split(text, ' '))) AS n_distinct
        |  FROM documents),
        |g AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS fam FROM q GROUP BY k),
        |j AS (
        |  SELECT q.lang,
        |    CASE WHEN g.fam > 1 THEN 1 ELSE 0 END AS is_dup,
        |    least(CAST(n_words AS DOUBLE), 100.0) / 100.0
        |      * (0.5 + 0.5 * (CAST(n_distinct AS DOUBLE) / n_words)) AS qv
        |  FROM q JOIN g ON g.k = q.k),
        |m AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(is_dup) AS BIGINT) AS n_dup,
        |    SUM(CASE WHEN is_dup = 1 THEN qv END) AS sq1,
        |    SUM(CASE WHEN is_dup = 0 THEN qv END) AS sq0,
        |    SUM(qv) AS sq, SUM(qv * qv) AS sqq
        |  FROM j GROUP BY 1)
        |SELECT lang, n_dup, n - n_dup AS n_uniq,
        |  round(sq1 / n_dup, 4) AS q_dup,
        |  round(sq0 / (n - n_dup), 4) AS q_uniq,
        |  CASE WHEN n_dup > 0 AND n_dup < n
        |        AND sqq / n - (sq / n) * (sq / n) > 0 THEN
        |    round((sq1 / n_dup - sq0 / (n - n_dup))
        |          / sqrt(sqq / n - (sq / n) * (sq / n))
        |          * sqrt((CAST(n_dup AS DOUBLE) / n)
        |                 * (1 - CAST(n_dup AS DOUBLE) / n)), 4) END AS r_pb
        |FROM m ORDER BY lang""".stripMargin
    ) { (s, dir) =>
      val q = Tables(s, dir, "documents").select(col("doc_id"), col("lang"),
        // sort_array, not array_sort: codegen on the per-row scan path
        md5(concat_ws(" ",
          sort_array(array_distinct(split(lower(col("text")), " ")))))
          .as("k"),
        size(words).as("n_words"),
        size(array_distinct(words)).as("n_distinct"))
      val g = q.groupBy("k").agg(count(lit(1)).cast(LongType).as("fam"))
      val j = q.join(g, Seq("k"))
        .select(col("lang"),
          when(col("fam") > 1, 1).otherwise(0).as("is_dup"),
          (least(col("n_words").cast(DoubleType), lit(100.0)) / 100.0
            * (lit(0.5) + lit(0.5)
              * (col("n_distinct").cast(DoubleType) / col("n_words"))))
            .as("qv"))
      val m = j.groupBy("lang")
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum("is_dup").cast(LongType).as("n_dup"),
          sum(when(col("is_dup") === 1, col("qv"))).as("sq1"),
          sum(when(col("is_dup") === 0, col("qv"))).as("sq0"),
          sum("qv").as("sq"), sum(col("qv") * col("qv")).as("sqq"))
      val n = col("n"); val nd = col("n_dup")
      val varQ = col("sqq") / n - (col("sq") / n) * (col("sq") / n)
      val p = nd.cast(DoubleType) / n
      m.select(col("lang"), nd, (n - nd).as("n_uniq"),
          round(col("sq1") / nd, 4).as("q_dup"),
          round(col("sq0") / (n - nd), 4).as("q_uniq"),
          when(nd > 0 && nd < n && varQ > 0,
            round((col("sq1") / nd - col("sq0") / (n - nd)) / sqrt(varQ)
              * sqrt(p * (lit(1) - p)), 4)).as("r_pb"))
        .orderBy("lang")
    },

    // ---- #38 token counting: whitespace + regex + BPE-ish budget ----------
    // BPE-ish = every word costs ceil(len/4) subword tokens (integer form
    // (len+3) div 4 — exact on both engines).
    "text_tokens" -> OpDef(
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ws,
        |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS ws_tokens,
        |  CAST(re_tokens AS BIGINT) AS re_tokens,
        |  CAST(list_sum(list_transform(ws, w -> (length(w) + 3) // 4)) AS BIGINT) AS bpe_tokens,
        |  round(CAST(n_chars AS DOUBLE) / len(ws), 4) AS chars_per_token
        |FROM t ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars"), words.as("ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .as("re_tokens"))
        .select(
          col("doc_id"),
          size(col("ws")).cast(LongType).as("ws_tokens"),
          col("re_tokens").cast(LongType).as("re_tokens"),
          // native bpe_cost: the aggregate() fold would run interpreted
          call_function("bpe_cost", col("ws")).as("bpe_tokens"),
          round(col("n_chars").cast(DoubleType) / size(col("ws")), 4).as("chars_per_token"))
        .orderBy("doc_id")
    },

    // ---- #39 rolling-hash fingerprint -------------------------------------
    // Order-sensitive md5 chain over the word sequence (fold); the 60-bit
    // numeric form is the portable join/shard key.
    "text_fingerprint" -> OpDef(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend('', string_split(text, ' ')),
        |                (a, b) -> md5(a || ':' || b)) AS fp
        |  FROM documents)
        |SELECT doc_id, fp,
        |  ('0x' || substr(fp, 1, 15))::BIGINT AS fp_long
        |FROM t ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      // native md5_chain: the aggregate() fold would run interpreted,
      // re-hashing through boxed strings per word
      Tables(s, dir, "documents")
        .select(col("doc_id"), call_function("md5_chain", words).as("fp"))
        .withColumn("fp_long", conv(substring(col("fp"), 1, 15), 16, 10).cast(LongType))
        .orderBy("doc_id")
    },

    // ---- #271 winnowing fingerprint (Schleimer et al. SIGMOD'03 / MOSS) --
    // The position-robust LOCAL fingerprint #39's global rolling hash is
    // not: over the doc's word-3-gram hash sequence, every window of
    // W = 4 consecutive grams selects its minimum hash (ties → RIGHTMOST,
    // the robust-winnowing rule), and the distinct selected (pos, hash)
    // set is the fingerprint — any shared substring of ≥ W+2 words forces
    // a shared fingerprint, which is what makes winnowed indexes work for
    // plagiarism/overlap detection. The rightmost-min tie-break folds
    // into ONE integer window-min: key = h·2²⁰ + (2²⁰−1−i) (h < 2³², so
    // key < 2⁵² — exact in BIGINT on both engines; min key = min h, ties
    // to max i). Scale shape: one doc_id exchange that the gram window,
    // the fingerprint distinct, and both per-doc collapses all ride;
    // selected-set mass is ~2/(W+1) of the gram stream. The fp_chk
    // column pins the exact selected SET cross-engine, not just its size.
    "winnow_fingerprint" -> OpDef(
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, i,
        |    ('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]),
        |      1, 8))::BIGINT AS h
        |  FROM w, unnest(generate_series(0, len(ws) - 3)) AS t(i)
        |  WHERE len(ws) >= 3),
        |k AS (
        |  SELECT doc_id,
        |    COUNT(*) OVER win AS cnt,
        |    MIN(h * 1048576 + (1048575 - i)) OVER win AS kmin
        |  FROM g
        |  WINDOW win AS (PARTITION BY doc_id ORDER BY i
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
        |sel AS (
        |  SELECT DISTINCT doc_id, kmin // 1048576 AS fph,
        |    1048575 - (kmin % 1048576) AS pos
        |  FROM k WHERE cnt = 4),
        |m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
        |      FROM g GROUP BY 1),
        |f AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
        |        CAST(SUM(fph) % 1000003 AS BIGINT) AS fp_chk
        |      FROM sel GROUP BY 1)
        |SELECT m.doc_id, m.n_grams, f.n_fps,
        |  round(CAST(f.n_fps AS DOUBLE) / m.n_grams, 4) AS density, f.fp_chk
        |FROM m JOIN f USING (doc_id) ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val d = Tables(s, dir, "documents").select(col("doc_id"), words.as("ws"))
      val g = d.filter(size(col("ws")) >= 3)
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0), size(col("ws")) - 3)).as("i"))
        .select(col("doc_id"), col("i"),
          conv(substring(md5(concat_ws(" ",
            element_at(col("ws"), col("i") + 1),
            element_at(col("ws"), col("i") + 2),
            element_at(col("ws"), col("i") + 3))), 1, 8), 16, 10)
            .cast(LongType).as("h"))
      val win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-3, 0)
      val k = g.select(col("doc_id"),
        count(lit(1)).over(win).as("cnt"),
        min(col("h") * 1048576L + (lit(1048575L) - col("i"))).over(win)
          .as("kmin"))
      val sel = k.filter(col("cnt") === 4)
        .select(col("doc_id"), expr("kmin div 1048576").as("fph"),
          (lit(1048575L) - col("kmin") % 1048576L).as("pos"))
        .distinct()
      val m = g.groupBy("doc_id").agg(count(lit(1)).cast(LongType).as("n_grams"))
      val f = sel.groupBy("doc_id")
        .agg(count(lit(1)).cast(LongType).as("n_fps"),
          (sum("fph") % 1000003L).cast(LongType).as("fp_chk"))
      m.join(f, "doc_id")
        .select(col("doc_id"), col("n_grams"), col("n_fps"),
          round(col("n_fps").cast(DoubleType) / col("n_grams"), 4).as("density"),
          col("fp_chk"))
        .orderBy("doc_id")
    },

    // ---- #69 corpus token frequency top-k (vocab coverage) ----------------
    // Tokenizer-vocab analysis over the whole corpus: the space-saving
    // TopKAgg DIRECTLY on the exploded token stream — one shuffle of
    // O(partitions × capacity) typed partial buffers per language, never a
    // materialized (lang, token) count table. Exact while capacity ≥ the
    // language's vocabulary (pinned by the oracle at test SF); beyond that
    // the space-saving error bound applies — the right trade at a 100 TB
    // corpus where the long tail is noise anyway.
    "tok_topk" -> OpDef(
      """WITH w AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT lang, tok, COUNT(*) AS n FROM w GROUP BY 1, 2),
        |r AS (SELECT lang, tok,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rn
        |      FROM c)
        |SELECT lang, string_agg(tok, ',' ORDER BY rn) AS top_tokens
        |FROM r WHERE rn <= 20 GROUP BY lang ORDER BY lang""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"), explode(words).as("tok"))
        .groupBy("lang")
        // rank-ordered list joined with "," — scalar-hashable output
        .agg(concat_ws(",",
          call_function("topk_approx", col("tok"), lit(20), lit(1024)))
          .as("top_tokens"))
        .orderBy("lang")
    },

    // ---- #279 phrase-vocabulary coverage curve -----------------------------
    // How much of the corpus's word-3-gram mass the top-k phrases cover
    // (k = 100 / 1k / 10k) — the templatedness read-out that sizes both
    // dedup budgets (high cov100 ⇒ boilerplate dominates) and
    // tokenizer/merge tables. Scale shape: gram instances hash to 8-byte
    // h32 keys before any shuffle; ONE collapse to the vocab grain; the
    // top-10k pick is TakeOrderedAndProject (no global sort materializes)
    // and the only unpartitioned window runs on those ≤10k rows — a
    // CONSTANT, not a corpus-sized funnel (the global_rank discipline).
    // Ties break (freq desc, h asc) — deterministic on both engines.
    // Coverages are exact-integer ratios → round(·,4).
    "tok_coverage" -> OpDef(
      s"""WITH w AS (
         |  SELECT string_split(text, ' ') AS ws FROM documents),
         |g AS (
         |  SELECT unnest(list_transform(
         |    generate_series(0, len(ws) - 3),
         |    i -> ${h32Sql("ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]")})) AS h
         |  FROM w WHERE len(ws) >= 3),
         |c AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1),
         |r AS (
         |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, h) AS rn
         |  FROM c QUALIFY rn <= 10000),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
         |             CAST(SUM(n) AS BIGINT) AS n_total FROM c),
         |cv AS (
         |  SELECT CAST(SUM(CASE WHEN rn <= 100 THEN n ELSE 0 END) AS BIGINT)
         |           AS m100,
         |         CAST(SUM(CASE WHEN rn <= 1000 THEN n ELSE 0 END) AS BIGINT)
         |           AS m1k,
         |         CAST(SUM(n) AS BIGINT) AS m10k
         |  FROM r)
         |SELECT t.n_vocab, t.n_total,
         |  round(CAST(cv.m100 AS DOUBLE) / t.n_total, 4) AS cov_top100,
         |  round(CAST(cv.m1k AS DOUBLE) / t.n_total, 4) AS cov_top1k,
         |  round(CAST(cv.m10k AS DOUBLE) / t.n_total, 4) AS cov_top10k
         |FROM t, cv""".stripMargin
    ) { (s, dir) =>
      val d = Tables(s, dir, "documents").select(words.as("ws")).filter(size(col("ws")) >= 3)
      // 8-hex-char h32 inline (parity.md5Long is the 15-char variant — the
      // oracle above interpolates the 8-char spelling, both sides must match)
      val g32 = d
        .select(col("ws"),
          explode(sequence(lit(0), size(col("ws")) - 3)).as("i"))
        .select(conv(substring(md5(concat_ws(" ",
          element_at(col("ws"), col("i") + 1),
          element_at(col("ws"), col("i") + 2),
          element_at(col("ws"), col("i") + 3))), 1, 8), 16, 10)
          .cast(LongType).as("h"))
      val vc = g32.groupBy("h").agg(count(lit(1)).as("n"))
      val top = vc.orderBy(col("n").desc, col("h")).limit(10000)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("n").desc, col("h"))))
      val cov = top.agg(
        sum(when(col("rn") <= 100, col("n")).otherwise(0L)).cast(LongType)
          .as("m100"),
        sum(when(col("rn") <= 1000, col("n")).otherwise(0L)).cast(LongType)
          .as("m1k"),
        sum("n").cast(LongType).as("m10k"))
      val tot = vc.agg(count(lit(1)).cast(LongType).as("n_vocab"),
        sum("n").cast(LongType).as("n_total"))
      tot.crossJoin(cov).select(col("n_vocab"), col("n_total"),
        round(col("m100").cast(DoubleType) / col("n_total"), 4)
          .as("cov_top100"),
        round(col("m1k").cast(DoubleType) / col("n_total"), 4)
          .as("cov_top1k"),
        round(col("m10k").cast(DoubleType) / col("n_total"), 4)
          .as("cov_top10k"))
    },

    // ---- #83 repetition signal (Gopher/RefinedWeb dup-ngram quality rule)
    // Fraction of duplicate word-2-grams and duplicate words per document —
    // the "repetitious text" filters LLM curation pipelines cut on. Pure
    // per-row collection expressions (slice + arrays_zip + array_distinct,
    // all codegen, no lambda): ZERO shuffle at any scale, scan-bound like
    // the rest of the text family. Ratios are single IEEE divisions of
    // exact integer counts — bit-identical across engines. Struct-pair
    // grams here vs 'w1 w2' string grams in the oracle count the same sets
    // (words contain no spaces, so the concat is injective).
    "doc_repetition" -> OpDef(
      """WITH w AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, len(ws) AS n,
        |    len(list_distinct(list_transform(range(1, len(ws)),
        |        i -> ws[i] || ' ' || ws[i+1]))) AS dg,
        |    len(list_distinct(ws)) AS dw
        |  FROM w)
        |SELECT doc_id,
        |  CASE WHEN n > 1 THEN CAST(n - 1 - dg AS DOUBLE) / (n - 1)
        |       ELSE 0.0 END AS dup_2gram_ratio,
        |  CAST(n - dw AS DOUBLE) / n AS dup_word_ratio
        |FROM g ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val ws = split(lower(col("text")), " ")
      val n = size(ws)
      val dg = size(array_distinct(arrays_zip(
        slice(ws, lit(1), n - 1), slice(ws, lit(2), n - 1))))
      val dw = size(array_distinct(ws))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          when(n > 1, (n - 1 - dg).cast(DoubleType) / (n - 1))
            .otherwise(0.0).as("dup_2gram_ratio"),
          (n - dw).cast(DoubleType).divide(n).as("dup_word_ratio"))
        .orderBy("doc_id")
    },

    // ---- #100 training-sequence packing (concat-and-chunk) ----------------
    // The GPT-style packing step: per shard (= source), documents
    // concatenate in doc_id order and split into fixed 128-token context
    // windows; each doc's [start_chunk, end_chunk] span falls out of ONE
    // prefix-sum window per shard — exact integer arithmetic, a single
    // source-keyed shuffle, no per-chunk explode. n_chunks > 1 marks docs
    // crossing a window boundary (what a loss-masking loader needs to know).
    // At 100 TB the shard key spreads the prefix sums across the cluster;
    // packing never sees a global order.
    "seq_packing" -> OpDef(
      """WITH t AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, tokens,
        |    SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM t)
        |SELECT doc_id, source, CAST(tokens AS BIGINT) AS tokens,
        |  CAST((cum - tokens) // 128 AS BIGINT) AS start_chunk,
        |  CAST((cum - 1) // 128 AS BIGINT) AS end_chunk,
        |  CAST((cum - 1) // 128 - (cum - tokens) // 128 + 1 AS BIGINT) AS n_chunks
        |FROM c ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), size(words).cast(LongType).as("tokens"))
        .withColumn("cum",
          sum("tokens").over(Window.partitionBy("source").orderBy("doc_id")))
        .select(col("doc_id"), col("source"), col("tokens"),
          expr("(cum - tokens) DIV 128").as("start_chunk"),
          expr("(cum - 1) DIV 128").as("end_chunk"),
          (expr("(cum - 1) DIV 128") - expr("(cum - tokens) DIV 128") + 1)
            .as("n_chunks"))
        .orderBy("doc_id")
    },

    // ---- #101 stratified corpus sampling ----------------------------------
    // Per-language downsampling (the data-mixing step: keep 1/2 of en, 1/3
    // of de, 1/4 of fr, 1/5 of the rest) with the sample_hash discipline —
    // a deterministic per-doc md5 hash against a per-stratum denominator, so
    // the sample is a pure codegen FILTER riding the scan: zero shuffle,
    // zero state, reproducible across runs and engines, consistent for a
    // given doc at any SF.
    "stratified_sample" -> OpDef(
      s"""WITH d AS (
         |  SELECT doc_id, lang, source,
         |    CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 3 WHEN 'fr' THEN 4
         |              ELSE 5 END AS denom,
         |    ${graft.ops.parity.md5LongSql("'strat:'||CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents)
         |SELECT doc_id, lang, source FROM d
         |WHERE h % denom = 0 ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val denom = when(col("lang") === "en", 2)
        .when(col("lang") === "de", 3)
        .when(col("lang") === "fr", 4)
        .otherwise(5)
      Tables(s, dir, "documents")
        .filter(
          graft.ops.parity.md5Long(
            concat(lit("strat:"), col("doc_id").cast(StringType))) % denom === 0)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    },

    // ---- #273 deterministic train/val/test split --------------------------
    // The split every training run needs BEFORE packing/sharding: hash each
    // doc into 100 buckets (train < 98, val = 98, test = 99 — the 98/1/1
    // convention) with the stratified_sample md5 discipline, then audit the
    // split per (lang, source) stratum: counts, token mass, and the exact
    // held-out MEMBERSHIP pinned by the id-sums (a miscounted boundary or a
    // hash drift moves a doc_id and breaks the sum, not just a ratio).
    // Scale shape: the assignment is a pure codegen map riding the scan —
    // zero shuffle, reproducible per doc at any SF (growing the corpus
    // never reassigns an existing doc) — and the audit is ONE grain
    // collapse to ≤ |langs|×|sources| cells. train_frac is a single IEEE
    // divide of exact integers → round(·,4).
    "train_test_split" -> OpDef(
      s"""WITH d AS (
         |  SELECT doc_id, lang, source, n_chars,
         |    ${graft.ops.parity.md5LongSql("'split:'||CAST(doc_id AS VARCHAR)")}
         |      % 100 AS bk
         |  FROM documents)
         |SELECT lang, source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(CASE WHEN bk < 98 THEN 1 END) AS BIGINT) AS n_train,
         |  CAST(COUNT(CASE WHEN bk = 98 THEN 1 END) AS BIGINT) AS n_val,
         |  CAST(COUNT(CASE WHEN bk = 99 THEN 1 END) AS BIGINT) AS n_test,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  round(CAST(COUNT(CASE WHEN bk < 98 THEN 1 END) AS DOUBLE)
         |        / COUNT(*), 4) AS train_frac,
         |  CAST(COALESCE(SUM(CASE WHEN bk = 98 THEN doc_id END), 0) AS BIGINT)
         |    AS val_id_sum,
         |  CAST(COALESCE(SUM(CASE WHEN bk = 99 THEN doc_id END), 0) AS BIGINT)
         |    AS test_id_sum
         |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val bk = graft.ops.parity.md5Long(
        concat(lit("split:"), col("doc_id").cast(StringType))) % 100
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          bk.as("bk"))
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).cast(LongType).as("n_docs"),
          count(when(col("bk") < 98, 1)).cast(LongType).as("n_train"),
          count(when(col("bk") === 98, 1)).cast(LongType).as("n_val"),
          count(when(col("bk") === 99, 1)).cast(LongType).as("n_test"),
          sum("n_chars").cast(LongType).as("sum_chars"),
          round(count(when(col("bk") < 98, 1)).cast(DoubleType)
            / count(lit(1)), 4).as("train_frac"),
          coalesce(sum(when(col("bk") === 98, col("doc_id"))), lit(0L))
            .cast(LongType).as("val_id_sum"),
          coalesce(sum(when(col("bk") === 99, col("doc_id"))), lit(0L))
            .cast(LongType).as("test_id_sum"))
        .orderBy("lang", "source")
    },

    // ---- #105 PII scrubbing (curation redaction pass) ---------------------
    // Email/phone redaction over deterministic fixtures: synthetic contact
    // strings derived from doc_id are appended IN THE QUERY on both engines
    // (the corpus itself contains no '@' or '+'), then scrubbed with plain
    // ASCII character-class regexes that mean the same thing in Java regex
    // and RE2. A pure narrow map riding the scan — zero shuffle, codegen
    // regexp_replace/regexp_count — with the redacted text emitted as its
    // portable md5 (proves the replacement, not just the counts).
    "pii_scrub" -> OpDef(
      """WITH t AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 <> 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |      ELSE '' END
        |    || CASE WHEN doc_id % 2 = 0
        |      THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS raw
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(raw, '[a-z0-9.]+@[a-z0-9.]+[.][a-z]+')) AS BIGINT)
        |      AS n_emails,
        |    CAST(len(regexp_extract_all(raw, '[+]1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |    regexp_replace(
        |      regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+[.][a-z]+', '<EMAIL>', 'g'),
        |      '[+]1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |  FROM t)
        |SELECT doc_id, n_emails, n_phones, md5(redacted) AS redacted_md5
        |FROM r ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val emailRe = "[a-z0-9.]+@[a-z0-9.]+[.][a-z]+"
      val phoneRe = "[+]1-555-[0-9]{4}"
      val raw = concat(col("text"),
        when(col("doc_id") % 3 =!= 0,
          concat(lit(" contact user"), col("doc_id").cast(StringType),
            lit("@mail.example.com"))).otherwise(""),
        when(col("doc_id") % 2 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
          .otherwise(""))
      Tables(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          regexp_count(col("raw"), lit(emailRe)).cast(LongType).as("n_emails"),
          regexp_count(col("raw"), lit(phoneRe)).cast(LongType).as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("raw"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy("doc_id")
    },

    // ---- #114 RAG-style document chunking ---------------------------------
    // Fixed 200-char windows at stride 150 (50-char overlap): chunk start
    // positions explode from sequence(1, n_chars, 150) — bounded by the
    // document's own length, never the corpus — and each chunk is substring
    // + md5, so the whole operator is a narrow codegen map riding the scan:
    // ZERO shuffle at any SF. Chunk content is proved by md5 (not just
    // counts), tail chunks shorter than 200 included — substring clamps
    // identically on both engines.
    "doc_chunk" -> OpDef(
      """WITH p AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, n_chars, 150)) AS pos
        |  FROM documents)
        |SELECT doc_id, CAST(pos AS BIGINT) AS chunk_pos,
        |  CAST(length(substr(text, CAST(pos AS INTEGER), 200)) AS BIGINT)
        |    AS chunk_len,
        |  md5(substr(text, CAST(pos AS INTEGER), 200)) AS chunk_md5
        |FROM p ORDER BY doc_id, chunk_pos""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1L), col("n_chars"), lit(150L))).as("pos"))
        .select(col("doc_id"), col("pos").as("chunk_pos"),
          length(expr("substring(text, CAST(pos AS INT), 200)"))
            .cast(LongType).as("chunk_len"),
          md5(expr("substring(text, CAST(pos AS INT), 200)")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_pos")
    },

    // ---- #115 deterministic training-shard assignment ---------------------
    // The "global shuffle" step of a training-data pipeline: every doc gets
    // shard = md5-hash % 16 and a position within the shard ordered by that
    // same hash — reproducible across runs, engines, and SFs (a doc's shard
    // never depends on the rest of the corpus). The assignment itself is a
    // pure codegen scan column; at 100 TB the production form is
    // write.partitionBy(shard) with a per-file sort, no shuffle beyond the
    // write. The per-shard md5 chain over hash-ordered doc_ids emitted here
    // is the verification artifact: it pins MEMBERSHIP AND ORDER of every
    // shard against the oracle, not just sizes (per-shard O(|shard|) state
    // confined to this proof, like tok_topk's rank-ordered concat).
    "shard_assign" -> OpDef(
      s"""WITH d AS (
         |  SELECT doc_id, n_chars,
         |    ${graft.ops.parity.md5LongSql("'shard:'||CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents)
         |SELECT CAST(h % 16 AS BIGINT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h, doc_id))
         |    AS order_md5
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        graft.ops.parity.md5Long(
          concat(lit("shard:"), col("doc_id").cast(StringType))).as("h"))
      d.groupBy((col("h") % 16).cast(LongType).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast(LongType).as("sum_chars"),
          sort_array(collect_list(struct(col("h"), col("doc_id")))).as("ord"))
        .select(col("shard"), col("n_docs"), col("sum_chars"),
          md5(concat_ws(",",
            col("ord.doc_id").cast(ArrayType(StringType)))).as("order_md5"))
        .orderBy("shard")
    },

    // ---- #125 TF-IDF top terms per document -------------------------------
    // The classic corpus-weighting pass: tf from one (doc, tok) count
    // collapse, df as ONE count window riding the tok regroup of the SAME
    // collapsed rows (never the raw token stream — the dedup_substring
    // df-window move), corpus size N broadcast from a 1-row agg. tf·ln(N/df)
    // is the one libm-dependent step → round(·,4) parity clamp, and the
    // top-3 rank orders by the CLAMPED score (ties → tok asc) so selection
    // is engine-stable. Output capped to doc_id < 100 — the df/score pass
    // itself is corpus-wide at any SF.
    "tfidf_topterms" -> OpDef(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2),
        |d AS (
        |  SELECT doc_id, tok, tf,
        |    CAST(COUNT(*) OVER (PARTITION BY tok) AS BIGINT) AS df
        |  FROM tf),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        |s AS (
        |  SELECT doc_id, tok, tf, df,
        |    round(tf * ln(CAST(nd AS DOUBLE) / df), 4) AS score
        |  FROM d, n),
        |r AS (
        |  SELECT doc_id, tok, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok)
        |      AS rn
        |  FROM s)
        |SELECT doc_id, tok, tf, df, score
        |FROM r WHERE rn <= 3 AND doc_id < 100
        |ORDER BY doc_id, tok""".stripMargin
    ) { (s, dir) =>
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(words).as("tok"))
        .filter(col("tok") =!= "")
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val d = tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy("tok")))
      val nd = Tables(s, dir, "documents").agg(count(lit(1)).as("nd"))
      val scored = d.crossJoin(broadcast(nd))
        .withColumn("score",
          round(col("tf") * log(col("nd").cast(DoubleType) / col("df")), 4))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))))
        .filter(col("rn") <= 3 && col("doc_id") < 100)
        .select("doc_id", "tok", "tf", "df", "score")
        .orderBy("doc_id", "tok")
    },

    // ---- #126 BM25 retrieval for a fixed term query -----------------------
    // Okapi BM25 (k1=1.2, b=0.75, Lucene idf) for {spark, merge, hash}: ONE
    // token-explode pass aggregates per-doc length AND the three term
    // frequencies together (single doc_id shuffle, no tf⋈dl join), the
    // 1-row corpus stats (N, total length, per-term df) fold from those
    // per-doc rows and broadcast back. Scoring is per-row codegen; the ln is
    // the libm step → round(·,4) clamp, top-10 by (clamped score desc,
    // doc_id).
    "bm25_topdocs" -> OpDef(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    CAST(COUNT(*) FILTER (WHERE tok <> '') AS BIGINT) AS dl,
        |    CAST(COUNT(*) FILTER (WHERE tok = 'spark') AS BIGINT) AS tf1,
        |    CAST(COUNT(*) FILTER (WHERE tok = 'merge') AS BIGINT) AS tf2,
        |    CAST(COUNT(*) FILTER (WHERE tok = 'hash') AS BIGINT) AS tf3
        |  FROM toks GROUP BY 1),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(dl) AS BIGINT) AS tl,
        |    CAST(COUNT(*) FILTER (WHERE tf1 > 0) AS BIGINT) AS df1,
        |    CAST(COUNT(*) FILTER (WHERE tf2 > 0) AS BIGINT) AS df2,
        |    CAST(COUNT(*) FILTER (WHERE tf3 > 0) AS BIGINT) AS df3
        |  FROM d),
        |s AS (
        |  SELECT doc_id,
        |    round(
        |      ln(1 + (nd - df1 + 0.5) / (df1 + 0.5)) * tf1
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / (CAST(tl AS DOUBLE) / nd)))
        |      + ln(1 + (nd - df2 + 0.5) / (df2 + 0.5)) * tf2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / (CAST(tl AS DOUBLE) / nd)))
        |      + ln(1 + (nd - df3 + 0.5) / (df3 + 0.5)) * tf3
        |        / (tf3 + 1.2 * (0.25 + 0.75 * dl / (CAST(tl AS DOUBLE) / nd))),
        |      4) AS score
        |  FROM d, g)
        |SELECT doc_id, score FROM s
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    ) { (s, dir) =>
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(words).as("tok"))
      val d = toks.groupBy("doc_id").agg(
        count(when(col("tok") =!= "", 1)).as("dl"),
        count(when(col("tok") === "spark", 1)).as("tf1"),
        count(when(col("tok") === "merge", 1)).as("tf2"),
        count(when(col("tok") === "hash", 1)).as("tf3"))
      val g = d.agg(
        count(lit(1)).as("nd"), sum("dl").cast(LongType).as("tl"),
        count(when(col("tf1") > 0, 1)).as("df1"),
        count(when(col("tf2") > 0, 1)).as("df2"),
        count(when(col("tf3") > 0, 1)).as("df3"))
      val avgdl = col("tl").cast(DoubleType) / col("nd")
      def term(tf: Column, df: Column): Column =
        log(lit(1) + (col("nd") - df + lit(0.5)) / (df + lit(0.5))) * tf /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
      d.crossJoin(broadcast(g))
        .select(col("doc_id"),
          round(term(col("tf1"), col("df1"))
            + term(col("tf2"), col("df2"))
            + term(col("tf3"), col("df3")), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    },

    // ---- #127 BPE merge-candidate pair counts -----------------------------
    // The inner loop of byte-pair-encoding tokenizer training: count every
    // ADJACENT token pair in the corpus, keep the top candidates. The pair
    // stream is a pure codegen array op riding the scan (arrays_zip over two
    // shifted slices + getField — zip_with/transform lambdas would run
    // interpreted; no posexplode + window, no per-doc state), then ONE count
    // collapse to the pair grain. Exact integers; top-20 by
    // (count desc, pair asc).
    "bpe_pair_stats" -> OpDef(
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1])) AS pair
        |  FROM t),
        |c AS (
        |  SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY 1)
        |SELECT pair, cnt FROM c
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin
    ) { (s, dir) =>
      val ts = words
      val n1 = greatest(size(ts) - 1, lit(0))
      val pairs = Tables(s, dir, "documents")
        .select(explode(arrays_zip(
          slice(ts, lit(1), n1).as("a"), slice(ts, lit(2), n1).as("b"))).as("p"))
        .select(concat_ws(" ",
          col("p").getField("a"), col("p").getField("b")).as("pair"))
      pairs.groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    },

    // ---- #243 DSIR importance scoring (data-selection log-ratio) -----------
    // Xie et al.'s Data Selection via Importance Resampling, unigram form:
    // per doc, the mean log-ratio of target-domain vs corpus token
    // likelihoods (add-1 smoothed) — positive score ⇒ the doc "looks like"
    // the target (here lang='en'), the signal DSIR resamples on when
    // curating pretraining mixes. Scale shape: BOTH frequency tables ride
    // ONE token-grain collapse of a single corpus scan (the target side
    // is a conditional partial agg, not a second scan); the weight table
    // is vocab-bounded (hash-bucketed at open-vocab scale, the
    // contamination-op discipline) and joins the per-occurrence stream as
    // a broadcast-able grain. Per-doc mean = one double divide after a
    // round(·,4)-absorbed float sum (the unigram_surprisal precedent).
    "dsir_logratio" -> OpDef(
      """WITH w AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |g AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS na,
        |    CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS nt
        |  FROM w GROUP BY 1),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
        |        CAST(SUM(na) AS BIGINT) AS atot,
        |        CAST(SUM(nt) AS BIGINT) AS ttot
        |      FROM g),
        |wt AS (
        |  SELECT g.tok,
        |    ln((g.nt + 1.0) / (v.ttot + v.vocab))
        |      - ln((g.na + 1.0) / (v.atot + v.vocab)) AS lw
        |  FROM g CROSS JOIN v)
        |SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  round(SUM(lw) / COUNT(*), 4) + 0.0 AS dsir_score
        |FROM w JOIN wt ON w.tok = wt.tok
        |WHERE w.doc_id < 100
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val w = Tables(s, dir, "documents").select(col("doc_id"), col("lang"),
        explode(words).as("tok"))
      val g = w.groupBy("tok").agg(count(lit(1)).as("na"),
        count(when(col("lang") === "en", 1)).as("nt"))
      val v = g.agg(count(lit(1)).as("vocab"),
        sum("na").cast(LongType).as("atot"),
        sum("nt").cast(LongType).as("ttot"))
      val wt = g.crossJoin(broadcast(v))
        .select(col("tok"),
          (log((col("nt") + 1.0) / (col("ttot") + col("vocab")))
            - log((col("na") + 1.0) / (col("atot") + col("vocab"))))
            .as("lw"))
      w.filter(col("doc_id") < 100)
        .join(wt, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          // + 0.0 collapses IEEE negative zero (round(-0.00004, 4) = -0.0)
          // to +0.0 on both engines - a rendering, not a value, divergence
          (round(sum("lw") / count(lit(1)), 4) + 0.0).as("dsir_score"))
        .orderBy("doc_id")
    },

    // ---- #247 logistic quality classifier ----------------------------------
    // Model-based quality filtering (the fastText-classifier slot in a
    // CCNet/RefinedWeb-style pipeline) with a fixed, interpretable weight
    // vector over the #37 features: score = σ(w·x) per doc, keep = score
    // ≥ ½. Every feature is a scan-riding scalar (size/intersect on the
    // split array — no explode, no shuffle, whole-stage codegen), and the
    // score is ONE per-doc IEEE chain with no variable-order float sums —
    // the strongest parity class in the bank. At 100 TB this is a pure
    // narrow map: throughput = parquet scan. Swapping learned weights for
    // these constants changes numbers, not shape.
    "quality_logistic" -> OpDef(
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    string_split(text, ' ') AS ws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_chars, len(ws) AS nw,
        |    len(list_distinct(ws)) AS nd,
        |    len(list_filter(ws,
        |      w -> list_contains(['the','and','of','to','in','is','a'], w)))
        |      AS nstop
        |  FROM t),
        |z AS (
        |  SELECT doc_id,
        |    -1.5 + 2.2 * (least(CAST(nw AS DOUBLE), 200.0) / 200.0)
        |      + 1.8 * (CAST(nd AS DOUBLE) / nw)
        |      + 3.0 * (CAST(nstop AS DOUBLE) / nw)
        |      - 0.1 * (CAST(n_chars - nw + 1 AS DOUBLE) / nw) AS z
        |  FROM m)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS quality_score,
        |  CAST(CASE WHEN 1.0 / (1.0 + exp(-z)) >= 0.5 THEN 1 ELSE 0 END
        |    AS BIGINT) AS keep
        |FROM z ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val enLex = array(lexicons(1)._2.map(lit): _*)
      val m = Tables(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          words.as("ws"))
        .select(col("doc_id"), col("n_chars"), size(col("ws")).as("nw"),
          size(array_distinct(col("ws"))).as("nd"),
          call_function("count_in", col("ws"), enLex).as("nstop"))
      val z = m.select(col("doc_id"),
        (lit(-1.5)
          + lit(2.2) * (least(col("nw").cast(DoubleType), lit(200.0)) / 200.0)
          + lit(1.8) * (col("nd").cast(DoubleType) / col("nw"))
          + lit(3.0) * (col("nstop").cast(DoubleType) / col("nw"))
          - lit(0.1) * ((col("n_chars") - col("nw") + 1).cast(DoubleType)
            / col("nw"))).as("z"))
      z.select(col("doc_id"),
          round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4)
            .as("quality_score"),
          when(lit(1.0) / (lit(1.0) + exp(-col("z"))) >= 0.5, 1L)
            .otherwise(0L).as("keep"))
        .orderBy("doc_id")
    },

    // ---- #250 tokenizer fertility by language ------------------------------
    // Corpus-level tokens-per-word fertility per language for both #38
    // tokenizations (BPE-cost and the char-class regex) — the number that
    // decides how many training tokens a corpus actually yields per
    // language, and the first thing to check before fixing a token budget.
    // Pure scan-riding integer counts (native bpe_cost codegen fold, no
    // explode) collapsed to the ≤5-row lang grain; ratios are single
    // divides of exact integers → round(·,4).
    "tok_fertility" -> OpDef(
      """WITH t AS (
        |  SELECT lang, len(string_split(text, ' ')) AS nw,
        |    CAST(list_sum(list_transform(string_split(text, ' '),
        |      w -> (length(w) + 3) // 4)) AS BIGINT) AS bpe,
        |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |      AS re_t
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nw) AS BIGINT) AS n_words,
        |  CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
        |  round(CAST(SUM(bpe) AS DOUBLE) / SUM(nw), 4) AS bpe_fertility,
        |  round(CAST(SUM(re_t) AS DOUBLE) / SUM(nw), 4) AS regex_fertility
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val t = Tables(s, dir, "documents").select(col("lang"), size(words).as("nw"),
        call_function("bpe_cost", words).as("bpe"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re_t"))
      t.groupBy("lang")
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum("nw").cast(LongType).as("n_words"),
          sum("bpe").cast(LongType).as("n_bpe_tokens"),
          round(sum("bpe").cast(DoubleType) / sum("nw"), 4)
            .as("bpe_fertility"),
          round(sum("re_t").cast(DoubleType) / sum("nw"), 4)
            .as("regex_fertility"))
        .orderBy("lang")
    },

    // ---- #269 Gopher quality-rule battery (Rae et al. 2021 §A1.1) --------
    // The heuristic filter bank every large-scale curation pipeline runs
    // before model-based scoring: per document, the five canonical rules at
    // their PUBLISHED thresholds — word count ∈ [50, 100k], mean word
    // length ∈ [3, 10], symbol-char ratio ≤ 0.1, alphabetic-char fraction
    // ≥ 0.8, ≥ 2 stopword hits — each as an explicit flag plus the
    // conjunction verdict, so downstream reporting can attribute WHICH
    // rule killed a doc (the fraction each rule removes is the first
    // diagnostic a curation run reads). Character-class counts come from
    // two codegen regexp_replace strips (chars minus survivors), never a
    // per-word interpreted lambda; everything is a stateless narrow
    // projection — zero shuffle at any corpus size, throughput is
    // parquet-scan bound. Rule comparisons evaluate the RAW integer
    // ratios (same IEEE divide both engines); round(·,4) only at output.
    "gopher_rules" -> OpDef(
      """WITH t AS (
        |  SELECT doc_id, length(text) AS nc, len(string_split(text, ' ')) AS nw,
        |    len(list_filter(string_split(text, ' '),
        |      w -> list_contains(['the','and','of','to','in','is','a'], w)))
        |      AS n_stop,
        |    length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))
        |      AS n_alpha,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS n_digit
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, nw, n_stop, n_alpha, n_digit,
        |    CAST(nc - nw + 1 AS DOUBLE) / nw AS mwl,
        |    nc - nw + 1 AS nsp
        |  FROM t)
        |SELECT doc_id,
        |  CAST(nw AS BIGINT) AS n_words,
        |  round(mwl, 4) AS mean_word_len,
        |  round(CAST(nsp - n_alpha - n_digit AS DOUBLE) / nsp, 4) AS sym_frac,
        |  round(CAST(n_alpha AS DOUBLE) / nsp, 4) AS alpha_frac,
        |  CAST(n_stop AS BIGINT) AS n_stop,
        |  CAST(CASE WHEN nw BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS r_wordcount,
        |  CAST(CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS r_wordlen,
        |  CAST(CASE WHEN CAST(nsp - n_alpha - n_digit AS DOUBLE) / nsp <= 0.1
        |    THEN 1 ELSE 0 END AS BIGINT) AS r_symbol,
        |  CAST(CASE WHEN CAST(n_alpha AS DOUBLE) / nsp >= 0.8
        |    THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
        |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
        |  CAST(CASE WHEN nw BETWEEN 50 AND 100000
        |    AND mwl >= 3.0 AND mwl <= 10.0
        |    AND CAST(nsp - n_alpha - n_digit AS DOUBLE) / nsp <= 0.1
        |    AND CAST(n_alpha AS DOUBLE) / nsp >= 0.8
        |    AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM m ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val enLex = array(lexicons(1)._2.map(lit): _*)
      val t = Tables(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("nc"),
        size(words).as("nw"),
        call_function("count_in", words, enLex).as("n_stop"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "[a-z]", ""))).as("n_alpha"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digit"))
      val m = t.select(col("doc_id"), col("nw"), col("n_stop"),
        col("n_alpha"), col("n_digit"),
        ((col("nc") - col("nw") + 1).cast(DoubleType) / col("nw")).as("mwl"),
        (col("nc") - col("nw") + 1).as("nsp"))
      val symFrac =
        (col("nsp") - col("n_alpha") - col("n_digit")).cast(DoubleType) / col("nsp")
      val alphaFrac = col("n_alpha").cast(DoubleType) / col("nsp")
      val rWc = col("nw") >= 50 && col("nw") <= 100000
      val rMwl = col("mwl") >= 3.0 && col("mwl") <= 10.0
      val rSym = symFrac <= 0.1
      val rAlpha = alphaFrac >= 0.8
      val rStop = col("n_stop") >= 2
      def flag(c: Column): Column = when(c, 1L).otherwise(0L)
      m.select(col("doc_id"),
          col("nw").cast(LongType).as("n_words"),
          round(col("mwl"), 4).as("mean_word_len"),
          round(symFrac, 4).as("sym_frac"),
          round(alphaFrac, 4).as("alpha_frac"),
          col("n_stop").cast(LongType).as("n_stop"),
          flag(rWc).as("r_wordcount"),
          flag(rMwl).as("r_wordlen"),
          flag(rSym).as("r_symbol"),
          flag(rAlpha).as("r_alpha"),
          flag(rStop).as("r_stop"),
          flag(rWc && rMwl && rSym && rAlpha && rStop).as("kept"))
        .orderBy("doc_id")
    }
  )
}
