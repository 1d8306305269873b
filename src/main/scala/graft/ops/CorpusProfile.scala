package graft.ops

import graft.OpDef
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.3 — corpus-profile operators over the documents table: the
  * read-outs a curation run consults BEFORE paying for dedup/training
  * passes. Shared discipline: token/shingle streams hash before they
  * shuffle, df rides count windows over collapsed grains (never
  * self-joins), ratios are exact-integer divides -> round(.,4).
  * (Consolidated r9 from the r8 chronology files.)
  */
object CorpusProfile {

  private val kProp = get_json_object(col("props"), "$.k").cast(LongType)
  private val centsL =
    (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
  private val big = DecimalType(38, 0)
  private val epochDay = datediff(col("ts").cast(DateType),
    to_date(lit("1970-01-01"))).cast(LongType)

  val defs: Map[String, OpDef] = Map(
    // ---- #160 type-token ratio (lexical diversity) -------------------------
    // Per-doc TTR + hapax-legomena ratio — the lexical-diversity quality
    // signal curation pipelines cut on next to doc_repetition. The doc_id
    // filter prunes the fact side BEFORE the explode; tokens collapse to
    // the (doc, tok) grain then fold per doc — two grain collapses on one
    // scan, zero joins. Ratios are single IEEE divides of exact integers
    // → round(·,4).
    "text_ttr" -> OpDef(
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 200),
        |g AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM w GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  round(CAST(COUNT(*) AS DOUBLE) / SUM(c), 4) AS ttr,
        |  round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) AS hapax_ratio
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      g.groupBy("doc_id").agg(
        sum("c").cast(LongType).as("n_tok"),
        count(lit(1)).cast(LongType).as("n_types"),
        round(count(lit(1)).cast(DoubleType) / sum("c"), 4).as("ttr"),
        round(sum(when(col("c") === 1, 1).otherwise(0)).cast(DoubleType)
          / count(lit(1)), 4).as("hapax_ratio"))
        .orderBy("doc_id")
    },

    // ---- #161 shingle novelty (inter-doc duplication profile) --------------
    // Per-doc fraction of its distinct word-3-gram shingles that appear in
    // ANY other doc (document frequency ≥ 2) — the corpus-level boilerplate
    // profile that tells a curation run how much near-dup mass dedup will
    // find BEFORE paying for pair generation. Shingles are hashed ONCE
    // (the dedup bank's h32 discipline); df is a count over the
    // hash-partitioned shingle grain — window, not join; the per-doc fold
    // is a second grain collapse. Two exchanges total, both on distinct
    // (doc, h) rows, never on raw text.
    "shingle_novelty" -> OpDef(
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(0, len(ws) - 3),
        |    i -> ('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |      ws[i+3]), 1, 8))::BIGINT))) AS h
        |  FROM w WHERE len(ws) >= 3),
        |d AS (
        |  SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS df FROM g)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  round(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) AS shared_frac
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val e = graft.dedup.Dedup.gramRows(Tables(s, dir, "documents"), 3)
      val d = e.withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      d.groupBy("doc_id").agg(
        count(lit(1)).cast(LongType).as("n_shingles"),
        round(sum(when(col("df") >= 2, 1).otherwise(0)).cast(DoubleType)
          / count(lit(1)), 4).as("shared_frac"))
        .orderBy("doc_id")
    },

    // ---- #173 document length profile --------------------------------------
    // Per (lang, source): doc count, total chars, exact p50/p90 of the
    // n_chars distribution — the corpus shape profile curation dashboards
    // lead with. The length grain collapse and BOTH rank windows ride one
    // hashpartitioning(lang, source) clustering; nearest-rank selection
    // (mad_exact discipline); pure integers.
    "doc_length_stats" -> OpDef(
      """WITH g AS (
        |  SELECT lang, source, n_chars AS len,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT lang, source, len, cnt,
        |    SUM(cnt) OVER (PARTITION BY lang, source ORDER BY len) AS cum,
        |    SUM(cnt) OVER (PARTITION BY lang, source) AS n,
        |    SUM(CAST(len AS HUGEINT) * cnt)
        |      OVER (PARTITION BY lang, source) AS tot
        |  FROM g)
        |SELECT lang, source, CAST(MAX(n) AS BIGINT) AS n_docs,
        |  CAST(MAX(tot) AS BIGINT) AS total_chars,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.50 * n) THEN len END) AS BIGINT)
        |    AS p50_len,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.90 * n) THEN len END) AS BIGINT)
        |    AS p90_len
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "documents")
        .groupBy(col("lang"), col("source"), col("n_chars").as("len"))
        .agg(count(lit(1)).as("cnt"))
      val part = Window.partitionBy("lang", "source")
      val cumW = part.orderBy("len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = g
        .withColumn("cum", sum("cnt").over(cumW))
        .withColumn("n", sum("cnt").over(part))
        .withColumn("tot",
          sum(col("len").cast(big) * col("cnt")).over(part))
      def sel(q: Double): Column =
        min(when(col("cum") >= ceil(lit(q) * col("n")), col("len")))
          .cast(LongType)
      w.groupBy("lang", "source").agg(
        max("n").cast(LongType).as("n_docs"),
        max("tot").cast(LongType).as("total_chars"),
        sel(0.50).as("p50_len"), sel(0.90).as("p90_len"))
        .orderBy("lang", "source")
    },

    // ---- #188 duplication rate by source -----------------------------------
    // Per (source): docs, exact-distinct texts (16-byte md5 keys — the
    // dedup_exact discipline: digests shuffle, never text bodies), and
    // the duplicate rate — the per-feed quality read-out a curation run
    // uses to decide WHERE dedup budget goes. Two-phase distinct (the
    // canonical scale shape for unbounded per-group domains) + one
    // divide → round(·,4).
    "dup_rate_by_source" -> OpDef(
      """WITH d AS (
        |  SELECT source, md5(text) AS h FROM documents),
        |g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique
        |  FROM d GROUP BY 1)
        |SELECT source, n_docs, n_unique,
        |  round(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 4) AS dup_rate
        |FROM g ORDER BY source""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("source"), md5(col("text")).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          countDistinct("h").cast(LongType).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          round(lit(1.0) - col("n_unique").cast(DoubleType) / col("n_docs"), 4)
            .as("dup_rate"))
        .orderBy("source")
    },

    // ---- #274 cross-source near-dup leakage --------------------------------
    // The provenance read-out on the near-dup pair graph: how many
    // hamming≤2 simhash pairs (#32b's machinery) stay WITHIN one source vs
    // crossing source boundaries — cross-source mass is syndication/mirror
    // leakage that per-source dedup would miss entirely, and it decides
    // whether dedup must run globally or can shard by source (a 100 TB cost
    // cliff). The pair set joins the (doc_id, source) projection on both
    // ends — near-dup pairs are orders of magnitude fewer than docs at any
    // corpus scale, so both lookups are pair-bounded; the collapse lands on
    // the ≤ |sources|² cell grain and share rides a grain window.
    "cross_source_leakage" -> OpDef(
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
        |  SELECT doc_id, sig, b, (sig >> (b * 20)) & 1048575 AS bkey
        |  FROM s, (SELECT unnest(generate_series(0, 2)) AS b)
        |  QUALIFY COUNT(*) OVER (PARTITION BY b, bkey)
        |    <= ${graft.dedup.Dedup.LshBucketCap}),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
        |  WHERE a.doc_id < b.doc_id
        |    AND bit_count(xor(a.sig, b.sig)) <= 2),
        |src AS (SELECT doc_id, source FROM documents),
        |p AS (
        |  SELECT least(sa.source, sb.source) AS source_a,
        |         greatest(sa.source, sb.source) AS source_b
        |  FROM cand c
        |  JOIN src sa ON sa.doc_id = c.doc_a
        |  JOIN src sb ON sb.doc_id = c.doc_b),
        |g AS (
        |  SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM p GROUP BY 1, 2)
        |SELECT source_a, source_b, n_pairs,
        |  source_a <> source_b AS cross_source,
        |  round(CAST(n_pairs AS DOUBLE) / SUM(n_pairs) OVER (), 4) AS share
        |FROM g ORDER BY source_a, source_b""".stripMargin
    ) { (s, dir) =>
      val pairs = graft.dedup.Dedup.simhashPairs(s, dir)
        .select("doc_a", "doc_b")
      val src = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      val g = pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
          Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
          Seq("doc_b"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).cast(LongType).as("n_pairs"))
      g.select(col("source_a"), col("source_b"), col("n_pairs"),
          (col("source_a") =!= col("source_b")).as("cross_source"),
          round(col("n_pairs").cast(DoubleType)
            / sum("n_pairs").over(Window.partitionBy()), 4).as("share"))
        .orderBy("source_a", "source_b")
    },

    // ---- #197 tokens-per-doc histogram -------------------------------------
    // Corpus length structure in TOKENS (the unit curation budgets in),
    // bucketed by power of two — the log2_histogram discipline (bit
    // LENGTH, never floor(log2)) applied to the per-doc token count. The
    // token count is size(split) — a scan-riding scalar, no explode; ONE
    // collapse to the ≤20-cell bucket grain; share rides a grain window.
    "tokens_per_doc_hist" -> OpDef(
      """WITH d AS (
        |  SELECT len(string_split(text, ' ')) AS n_tok FROM documents),
        |g AS (
        |  SELECT CAST(length(printf('%b', n_tok)) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |  FROM d WHERE n_tok > 0 GROUP BY 1)
        |SELECT bucket, n_docs, n_tokens,
        |  round(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 4) AS share
        |FROM g ORDER BY bucket""".stripMargin
    ) { (s, dir) =>
      val d = Tables(s, dir, "documents")
        .select(size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .filter(col("n_tok") > 0)
      val g = d.groupBy(length(bin(col("n_tok"))).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").cast(LongType).as("n_tokens"))
      g.select(col("bucket"), col("n_docs").cast(LongType).as("n_docs"),
          col("n_tokens"),
          round(col("n_docs").cast(DoubleType)
            / sum("n_docs").over(Window.partitionBy()), 4).as("share"))
        .orderBy("bucket")
    },

    // ---- #215 training-mixture sampling weights ----------------------------
    // Per-source sampling weight to hit a UNIFORM token mixture — the
    // knob a data-recipe run turns before writing shards: weight =
    // target_share / actual_share, so sampling each source at
    // rate ∝ weight equalizes token mass. Token counts are size(split)
    // scan-riding integers collapsed to the source grain (≤ sources
    // rows); shares/weights are single IEEE divides of exact integers
    // over a grain window → round(·,6). At 100 TB this is one partial-agg
    // scan — the grain is the source vocabulary, never rows.
    "mixture_weights" -> OpDef(
      """WITH g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT SUM(n_tokens) AS tt, COUNT(*) AS n_src FROM g)
        |SELECT g.source, g.n_docs, g.n_tokens,
        |  round(CAST(g.n_tokens AS DOUBLE) / tt, 6) AS token_share,
        |  round((CAST(tt AS DOUBLE) / n_src) / g.n_tokens, 6) AS weight
        |FROM g, t ORDER BY g.source""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum(size(split(col("text"), " ")).cast(LongType))
            .cast(LongType).as("n_tokens"))
      val w = Window.partitionBy()
      g.select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast(DoubleType)
            / sum("n_tokens").over(w), 6).as("token_share"),
          round((sum("n_tokens").over(w).cast(DoubleType)
            / count(lit(1)).over(w)) / col("n_tokens"), 6).as("weight"))
        .orderBy("source")
    },

    // ---- #216 CCNet-style surprisal quality buckets ------------------------
    // Per-doc mean unigram surprisal under the corpus LM, bucketed into
    // per-language head/middle/tail by tercile SCORE THRESHOLDS (the
    // CCNet split that decides what a pre-training run keeps). The LM is
    // the corpus token frequency table (vocabulary-sized, broadcast — a
    // shuffle join would key 10^8 exploded tokens on a tiny, skewed
    // vocab). Per-doc means ROUND to 4 dp so scores collapse to a
    // bounded (lang, score-cell) grain; tercile cutoffs come off ONE
    // cumulative window over that grain with cross-multiplied integer
    // thresholds (cum·3 ≥ n — the quantiles_exact_weighted discipline),
    // then docs bucket by comparing to the broadcast per-lang cutoffs.
    // No row-grain window anywhere: a billion docs per language rank via
    // a ≤10^4-cell grain pass, exactly how CCNet shards at scale.
    "surprisal_filter" -> OpDef(
      """WITH w AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM c),
        |ds AS (
        |  SELECT w.doc_id, w.lang,
        |    round(SUM(-ln(CAST(c.cnt AS DOUBLE) / tt)) / COUNT(*), 4) AS score
        |  FROM w JOIN c ON w.tok = c.tok CROSS JOIN tot
        |  GROUP BY 1, 2),
        |g AS (SELECT lang, score, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM ds GROUP BY 1, 2),
        |cw AS (
        |  SELECT lang, score, cnt,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY score) AS cum,
        |    SUM(cnt) OVER (PARTITION BY lang) AS n
        |  FROM g),
        |th AS (
        |  SELECT lang,
        |    MIN(CASE WHEN 3 * cum >= n THEN score END) AS t1,
        |    MIN(CASE WHEN 3 * cum >= 2 * n THEN score END) AS t2
        |  FROM cw GROUP BY 1),
        |b AS (
        |  SELECT ds.lang,
        |    CASE WHEN ds.score <= th.t1 THEN 'head'
        |         WHEN ds.score <= th.t2 THEN 'middle'
        |         ELSE 'tail' END AS bucket,
        |    ds.score
        |  FROM ds JOIN th ON ds.lang = th.lang)
        |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  round(CAST(SUM(CAST(score AS DECIMAL(18,4))) AS DOUBLE)
        |    / COUNT(*), 4) AS avg_score
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val w = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
      val c = w.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val tot = c.agg(sum("cnt").cast(LongType).as("tt"))
      val ds = w.join(broadcast(c), "tok").crossJoin(broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(round(sum(-log(col("cnt").cast(DoubleType) / col("tt")))
          / count(lit(1)), 4).as("score"))
      val g = ds.groupBy("lang", "score").agg(count(lit(1)).as("cnt"))
      val part = Window.partitionBy("lang")
      val cw = g
        .withColumn("cum", sum("cnt").over(part.orderBy("score")))
        .withColumn("n", sum("cnt").over(part))
      val th = cw.groupBy("lang")
        .agg(min(when(lit(3) * col("cum") >= col("n"), col("score"))).as("t1"),
          min(when(lit(3) * col("cum") >= lit(2) * col("n"), col("score")))
            .as("t2"))
      ds.join(broadcast(th), "lang")
        .select(col("lang"),
          when(col("score") <= col("t1"), "head")
            .when(col("score") <= col("t2"), "middle")
            .otherwise("tail").as("bucket"),
          col("score"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          round(sum(col("score").cast(DecimalType(18, 4)))
            .cast(DoubleType) / count(lit(1)), 4).as("avg_score"))
        .orderBy("lang", "bucket")
    }
  )
}
