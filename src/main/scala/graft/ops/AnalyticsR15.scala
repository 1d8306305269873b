package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.OpDef
import graft.sources.Tables

/** SURVEY §2 #312-#315 — r15 additions: exact bitmap set algebra (the CH
  * groupBitmap family), the strict-increase windowFunnel mode, the
  * known-variance two-sample z-test, and the exact embedding Gram matrix
  * (whitening / int8-quantization prep).
  *
  * Parity discipline as ever (SURVEY §5): integers end-to-end where the
  * semantics allow (#312 and #313 emit nothing else; #315's cells are
  * exact micro-unit moment sums in DECIMAL(38,0)/HUGEINT), and every
  * IEEE chain is spelled identically on both engines (#314 — no clamp).
  */
object AnalyticsR15 {

  /** The #315 partition-local Gram moment kernel over an (… embedding
    * float[] …) frame: each task folds its vectors into ONE local
    * 2080-cell long array of exact micro-unit products (q = ⌊e·10⁶⌋,
    * Σqᵢqⱼ — a task overflows a long only past 9.2M vectors, `require`d)
    * and emits (i, j, n, sqq, dim) — i/j 1-based, dim stamped per task so
    * callers can fail fast on cross-task raggedness. Shared by
    * `embed_gram` and [[graft.ann.Whitening]]'s exact-moment collector.
    */
  private[graft] def gramMomentCells(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    emb.select(col("embedding")).as[Array[Float]]
      .mapPartitions { it =>
        var dim = -1
        var acc: Array[Long] = null
        var q: Array[Long] = null
        var n = 0L
        it.foreach { e =>
          if (e != null) {
            if (dim < 0) {
              dim = e.length
              acc = new Array[Long](dim * (dim + 1) / 2)
              q = new Array[Long](dim)
            }
            require(e.length == dim, "ragged embedding dims")
            require(n < 9200000L, "task too large for long Gram partials")
            var i = 0
            while (i < dim) { q(i) = math.floor(e(i).toDouble * 1000000).toLong; i += 1 }
            var c = 0
            i = 0
            while (i < dim) {
              val qi = q(i)
              var j = i
              while (j < dim) { acc(c) += qi * q(j); c += 1; j += 1 }
              i += 1
            }
            n += 1
          }
        }
        if (dim < 0) Iterator.empty
        else {
          var c = -1
          (for (i <- 0 until dim; j <- i until dim) yield {
            c += 1
            (i + 1L, j + 1L, n, acc(c), dim)
          }).iterator
        }
      }
      .toDF("i", "j", "n", "sqq", "dim")
  }

  val defs: Map[String, OpDef] = Map(
    // ---- #312 groupBitmap set algebra --------------------------------------
    // The EXACT twin of uniq_theta_ops (#306): per-type compressed bitmaps
    // of the raw user_id domain (BitmapAgg — Roaring-style array/dense
    // containers, ≤2 bytes per member, canonical serialized form), then
    // |A|, |B|, |A∧B|, |A∨B|, |A⊕B| for every type pair FROM THE CELLS.
    // Same scale shape as #306: the fact table folds ONCE into |types|
    // cells (bitmap union is associative/commutative and loss-free, so
    // map-side partials merge exactly), and the pair algebra runs on the
    // ≤C(|types|,2) serialized cells — never a fact self-join. No
    // capacity pin needed: bitmaps are exact at EVERY cardinality (the
    // sketch/exact trade is the point of the pairing — uniq_theta_ops
    // bounds state at 2 MB/cell with an estimator tail, this op pays
    // ≤2 bytes/distinct for exactness at any SF).
    "group_bitmap_ops" -> OpDef(
      """WITH u AS (
        |  SELECT DISTINCT event_type AS t, user_id AS v FROM events),
        |n AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY 1),
        |pr AS (
        |  SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS n_and
        |  FROM u a JOIN u b ON a.v = b.v AND a.t < b.t
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT na.t AS type_a, nb.t AS type_b, na.n AS n_a, nb.n AS n_b,
        |    COALESCE(pr.n_and, 0) AS n_and
        |  FROM n na JOIN n nb ON na.t < nb.t
        |  LEFT JOIN pr ON pr.type_a = na.t AND pr.type_b = nb.t)
        |SELECT type_a, type_b, n_a, n_b, n_and,
        |  n_a + n_b - n_and AS n_or, n_a + n_b - 2 * n_and AS n_xor
        |FROM pairs ORDER BY type_a, type_b""".stripMargin
    ) { (s, dir) =>
      // persist KEPT after the r17 two-scale audit (the uniq_theta_ops
      // result: dropping it was flat at sf0.1 but 1.5× slower at sf10 —
      // the broadcast side re-aggregated the fact table); one fact pass
      // is the 100 TB shape.
      val sk = graft.CacheRegistry.track(
        Tables(s, dir, "events")
          .groupBy("event_type")
          .agg(call_function("bitmap_agg", col("user_id")).as("bm"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val pr = sk.select(col("event_type").as("type_a"), col("bm").as("bma"))
        .crossJoin(broadcast(
          sk.select(col("event_type").as("type_b"), col("bm").as("bmb"))))
        .filter(col("type_a") < col("type_b"))
      pr.select(col("type_a"), col("type_b"),
          call_function("bitmap_card", col("bma")).as("n_a"),
          call_function("bitmap_card", col("bmb")).as("n_b"),
          call_function("bitmap_and_card", col("bma"), col("bmb")).as("n_and"),
          call_function("bitmap_or_card", col("bma"), col("bmb")).as("n_or"),
          call_function("bitmap_xor_card", col("bma"), col("bmb")).as("n_xor"))
        .orderBy("type_a", "type_b")
    },

    // ---- #316 groupBitmap -State/-Merge re-aggregation ---------------------
    // The uniq_theta_reagg (#309) discipline on the EXACT cells: per-(type,
    // day) bitmap_agg cells roll up per type via bitmap_merge. Bitmap
    // union is loss-free and the serialized form canonical, so
    // merge-of-cells ≡ one-pass BYTE-identically (AnalyticsR15Spec) — the
    // shape a 100 TB sink uses to keep live exact distinct counts per
    // flush without rescanning history, when exactness is worth paying
    // ≤2 bytes/distinct over the theta sketch's O(k) bound. Two agg
    // exchanges on ≤types×days cell rows, zero joins, raw-domain oracle.
    "bitmap_reagg" -> OpDef(
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_uniq
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val cells = Tables(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(call_function("bitmap_agg", col("user_id")).as("bm"))
      cells.groupBy("event_type")
        .agg(call_function("bitmap_merge", col("bm")).as("bm"))
        .select(col("event_type"),
          call_function("bitmap_card", col("bm")).as("n_uniq"))
        .orderBy("event_type")
    },

    // ---- #318 groupBitmapAnd coverage -------------------------------------
    // The n-ary read-out of the bitmap family (CH groupBitmapAnd/Or over
    // persisted states): from the SAME per-type cells as #312, the users
    // active in ANY type (n-way union via bitmap_merge) and in EVERY type
    // (n-way intersection via the new bitmap_intersect_agg — the dual aggregate:
    // associative, None-neutral so a lone cell intersects to itself, and
    // re-serialized through the canonical builder so partials merge
    // byte-identically). The exact-bitmap twin of relational_division's
    // coverage semantics, answered from O(|types|) cells instead of a
    // fact pass. Oracle: DISTINCT-set union + a HAVING-full-coverage CTE.
    "bitmap_coverage" -> OpDef(
      """WITH u AS (
        |  SELECT DISTINCT event_type AS t, user_id AS v FROM events),
        |a AS (
        |  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types,
        |    CAST(COUNT(DISTINCT v) AS BIGINT) AS n_any
        |  FROM u),
        |c AS (
        |  SELECT v FROM u GROUP BY v
        |  HAVING COUNT(DISTINCT t) = (SELECT COUNT(DISTINCT t) FROM u))
        |SELECT a.n_types, a.n_any,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_all
        |FROM a""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(call_function("bitmap_agg", col("user_id")).as("bm"))
        .agg(count(lit(1)).cast(LongType).as("n_types"),
          call_function("bitmap_merge", col("bm")).as("u"),
          call_function("bitmap_intersect_agg", col("bm")).as("i"))
        .select(col("n_types"),
          call_function("bitmap_card", col("u")).as("n_any"),
          call_function("bitmap_card", col("i")).as("n_all"))
    },

    // ---- #313 windowFunnel(strict_increase) --------------------------------
    // Completes the CH funnel-mode family (#47 windowed, #67 window+dedup,
    // funnel_strict_order's contiguous mode): signup → click → purchase
    // where each matched step's timestamp must be STRICTLY greater than
    // the previous step's — same-instant events do not advance the
    // funnel. The greedy earliest-feasible match maximizes depth (the
    // standard exchange argument: taking the earliest feasible step
    // leaves every later step feasible if any choice does), so the level
    // is three sequential conditional MINs — all timestamp integer
    // comparisons, engine-identical, never a float. Scale shape: three
    // user-keyed aggregations/joins sharing ONE hash-partitioning (the
    // exchanges reuse the user_id key; no fact-grain window, no string
    // materialization of event history).
    "funnel_strict_increase" -> OpDef(
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
        |                    ELSE 'p' END AS ch
        |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
        |s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM m WHERE ch = 's' GROUP BY 1),
        |s2 AS (
        |  SELECT m.user_id, MIN(m.ts) AS t2
        |  FROM m JOIN s1 ON m.user_id = s1.user_id
        |  WHERE m.ch = 'c' AND m.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT m.user_id, MIN(m.ts) AS t3
        |  FROM m JOIN s2 ON m.user_id = s2.user_id
        |  WHERE m.ch = 'p' AND m.ts > s2.t2 GROUP BY 1),
        |lv AS (
        |  SELECT u.user_id,
        |    CASE WHEN s3.user_id IS NOT NULL THEN 3
        |         WHEN s2.user_id IS NOT NULL THEN 2
        |         WHEN s1.user_id IS NOT NULL THEN 1
        |         ELSE 0 END AS level
        |  FROM (SELECT DISTINCT user_id FROM m) u
        |  LEFT JOIN s1 ON u.user_id = s1.user_id
        |  LEFT JOIN s2 ON u.user_id = s2.user_id
        |  LEFT JOIN s3 ON u.user_id = s3.user_id)
        |SELECT CAST(level AS BIGINT) AS level,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM lv GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val m = Tables(s, dir, "events")
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .select(col("user_id"), col("ts"),
          when(col("event_type") === "signup", "s")
            .when(col("event_type") === "click", "c")
            .otherwise("p").as("ch"))
      val s1 = m.filter(col("ch") === "s")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = m.filter(col("ch") === "c")
        .join(s1, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = m.filter(col("ch") === "p")
        .join(s2, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      m.select("user_id").distinct()
        .join(s1.select(col("user_id"), lit(1).as("l1")), Seq("user_id"), "left_outer")
        .join(s2.select(col("user_id"), lit(1).as("l2")), Seq("user_id"), "left_outer")
        .join(s3.select(col("user_id"), lit(1).as("l3")), Seq("user_id"), "left_outer")
        .select(
          when(col("l3").isNotNull, 3L)
            .when(col("l2").isNotNull, 2L)
            .when(col("l1").isNotNull, 1L)
            .otherwise(0L).as("level"))
        .groupBy("level")
        .agg(count(lit(1)).cast(LongType).as("n_users"))
        .orderBy("level")
    },

    // ---- #314 meanZTest (known-variance two-sample z) ----------------------
    // CH meanZTest(σx², σy², confidence)(value, group): the z statistic and
    // its confidence interval when the population variances are KNOWN —
    // the welch_ttest (#110) one-pass conditional-agg shape with the
    // variance estimation dropped. Declared population variances are
    // exact literal constants applied identically on both engines; the
    // whole chain after the exact DECIMAL sums is the same IEEE
    // expression spelling, so the doubles are bit-identical — no
    // rounding clamp anywhere (the #110 discipline).
    "mean_ztest" -> OpDef(
      """WITH m AS (
        |  SELECT
        |    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS nx,
        |    CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS ny,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE event_type = 'click') AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE event_type = 'view') AS DOUBLE) AS sy
        |  FROM events),
        |v AS (
        |  SELECT nx, ny, sx / nx - sy / ny AS dmean,
        |    sqrt(2500.0 / nx + 2500.0 / ny) AS se
        |  FROM m)
        |SELECT nx AS n_click, ny AS n_view, dmean,
        |  dmean / se AS z_stat,
        |  dmean - 1.96 * se AS ci_low,
        |  dmean + 1.96 * se AS ci_high
        |FROM v""".stripMargin
    ) { (s, dir) =>
      val d = col("value").cast(DecimalType(18, 2))
      val m = Tables(s, dir, "events").agg(
        count(when(col("event_type") === "click", 1)).as("nx"),
        count(when(col("event_type") === "view", 1)).as("ny"),
        sum(when(col("event_type") === "click", d)).cast(DoubleType).as("sx"),
        sum(when(col("event_type") === "view", d)).cast(DoubleType).as("sy"))
      val nx = col("nx"); val ny = col("ny")
      val v = m.select(nx, ny,
        (col("sx") / nx - col("sy") / ny).as("dmean"),
        sqrt(lit(2500.0) / nx + lit(2500.0) / ny).as("se"))
      v.select(nx.as("n_click"), ny.as("n_view"), col("dmean"),
        (col("dmean") / col("se")).as("z_stat"),
        (col("dmean") - lit(1.96) * col("se")).as("ci_low"),
        (col("dmean") + lit(1.96) * col("se")).as("ci_high"))
    },

    // ---- #315 embed_gram (whitening / quantization prep) -------------------
    // The exact 64×64 Gram matrix of the embedding corpus — the moment
    // input to whitening (W = VΛ^(−1/2)Vᵀ, eigen step driver-side —
    // graft.ann.Whitening, spec-only) and to int8 quantization quality
    // and IVF cell-shape analysis. Micro-unit discipline
    // (embed_dim_stats): q = floor(e·10⁶) exact integers; each Gram cell
    // Σ qᵢqⱼ accumulates in DECIMAL(38,0)/HUGEINT (1e12 per product ×
    // 1e9 vectors at 100 TB ≈ 1e21 — inside 38 digits, overflows a
    // long), so both engines fold identical integers and only the final
    // normalize-divide is IEEE. Scale shape: one posexplode pair
    // self-join on vec_id (64 rows/key each side — bounded fan-out, a
    // co-partitioned hash join, nothing quadratic in the corpus) whose
    // 2080-cell (i ≤ j) grain partial-aggregates map-side, so the
    // exchange carries ≤2080 rows per task regardless of SF.
    "embed_gram" -> OpDef(
      """WITH x AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS t(i)),
        |g AS (
        |  SELECT a.i AS i, b.i AS j, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(a.q AS HUGEINT) * b.q) AS sqq
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2)
        |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n,
        |  round(CAST(sqq AS DOUBLE) / n / 1000000000000, 6) + 0.0 AS gram
        |FROM g ORDER BY i, j""".stripMargin
    ) { (s, dir) =>
      // partition-local moment kernel (the blockCosinePairs/assignCells
      // discipline): each task folds its vectors into ONE local 2080-cell
      // long array — q products are ≤1e12, so a task would need >9.2e6
      // vectors to overflow a long partial (maxPartitionBytes caps tasks
      // far below that; `require`d anyway) — and emits 2080 rows. The
      // exchange then carries ≤2080 rows × tasks into a DECIMAL(38,0)
      // final sum, which is where the 100 TB-scale magnitude (~1e21)
      // lives. The declarative pair self-join computed the same integers
      // through a 64×-fan-out join row per vector-dim (41M rows at sf0.1,
      // 2.2 s; this kernel: 0.4 s) — same exact folds, hash-identical.
      val big = DecimalType(38, 0)
      val cells = gramMomentCells(s, Tables(s, dir, "embeddings"))
      // the in-task `require` only sees one task's vectors — a corpus whose
      // raggedness splits ACROSS tasks would pass it and silently skew the
      // per-cell n (ADVICE r15). Each task therefore stamps its dim on the
      // emitted cells and the final fold fails fast unless every task saw
      // the same one (the (1,1) cell collects ALL tasks, so a mismatch is
      // guaranteed to trip).
      cells.groupBy("i", "j")
        .agg(sum("n").as("n"), sum(col("sqq").cast(big)).as("sqq"),
          min("dim").as("_dmin"), max("dim").as("_dmax"))
        .select(col("i"), col("j"), col("n"),
          when(col("_dmin") === col("_dmax"),
            round(col("sqq").cast(DoubleType) / col("n") / 1e12, 6) + 0.0)
            .otherwise(raise_error(lit("ragged embedding dims across tasks"))
              .cast(DoubleType))
            .as("gram"))
        .orderBy("i", "j")
    }
  )
}
