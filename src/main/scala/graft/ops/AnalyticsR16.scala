package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.OpDef
import graft.sources.Tables

/** SURVEY §2 #320/#322-#326 — r16 additions: the whitening consumer
  * (`embed_whiten`, closing the r15 verdict's "nothing consumes W" item)
  * and the ClickHouse combinator stragglers with real analytic pull —
  * `groupArrayIntersect`, `sumMapFiltered`, `deltaSumTimestamp`, and the
  * `bitmapSubsetRange` cardinality read-out. (minMap/maxMap and
  * groupUniqArray were candidates but already ship as #103/#104 —
  * `minmax_map` / `group_uniq_array` in Relational.)
  *
  * Parity discipline as ever (SURVEY §5): exact integers / DECIMAL where
  * semantics allow (`sum_map_filtered` / `delta_sum_timestamp` fold
  * DECIMAL(18,2) end-to-end), and `embed_whiten`'s oracle is the
  * mathematical identity the whitening CONTRACT guarantees, so the hash
  * pins the whole offline model + distributed application end-to-end.
  */
object AnalyticsR16 {

  val defs: Map[String, OpDef] = Map(
    // ---- #320 embed_whiten: ZCA whitening applied + verified -------------
    // The r15 verdict item 3: graft.ann.Whitening built W but nothing
    // consumed it. This op runs the WHOLE production pipeline: the #315
    // exact moment pass → driver-side 64×64 Jacobi eigen → W = C^(−1/2)
    // (all constant-size at any SF), then broadcasts (μ, W) into a
    // partition-local matvec over the corpus (the assignCells kernel
    // discipline — a 64×64 broadcast matrix riding the scan, ZERO
    // shuffle beyond the ≤2080-row moment fold), and reads out the
    // covariance of the WHITENED corpus. The contract WᵀCW = I makes
    // that read-out the identity matrix up to O(eps/λ_min + fp-sum
    // noise) ≈ 1e-7 — so the DuckDB oracle is the identity LITERAL
    // (i = j → 1, else 0) at round(·,4), which an error anywhere in the
    // moment pass, the eigen step, μ, or the matvec application breaks.
    // (W itself is driver-side eigen output — not SQL-derivable — but
    // the identity read-out pins it end-to-end; the exact-moment feed is
    // [[graft.ann.Whitening.modelOf]], NOT embed_gram's rounded render,
    // whose ≤5e-7 cell smear W's ~1/λ amplification would surface here.)
    "embed_whiten" -> OpDef(
      """WITH d AS (SELECT len(embedding) AS dim FROM embeddings
        |           WHERE embedding IS NOT NULL LIMIT 1),
        |nn AS (SELECT CAST(COUNT(embedding) AS BIGINT) AS n FROM embeddings)
        |SELECT CAST(a.i AS BIGINT) AS i, CAST(b.j AS BIGINT) AS j, nn.n,
        |  CAST(CASE WHEN a.i = b.j THEN 1 ELSE 0 END AS DOUBLE) AS wcov
        |FROM d, nn,
        |  unnest(generate_series(1, d.dim)) AS a(i),
        |  unnest(generate_series(1, d.dim)) AS b(j)
        |WHERE a.i <= b.j
        |ORDER BY i, j""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      val m = graft.ann.Whitening.modelOf(s, dir)
      val bcW = s.sparkContext.broadcast(m.w)
      val bcMu = s.sparkContext.broadcast(m.mu)
      val wcells = Tables(s, dir, "embeddings")
        .select(col("embedding")).as[Array[Float]]
        .mapPartitions { it =>
          val w = bcW.value
          val mu = bcMu.value
          val d = mu.length
          val acc = new Array[Double](d * (d + 1) / 2)
          var n = 0L
          val x = new Array[Double](d)
          val y = new Array[Double](d)
          it.foreach { e =>
            if (e != null) {
              require(e.length == d, "ragged embedding dims")
              // whiten in the micro-unit-quantized domain the model was
              // trained on: y = W·(⌊e·10⁶⌋/10⁶ − μ)
              var i = 0
              while (i < d) {
                x(i) = math.floor(e(i).toDouble * 1000000) / 1000000 - mu(i)
                i += 1
              }
              i = 0
              while (i < d) {
                val wi = w(i)
                var sum = 0.0
                var k = 0
                while (k < d) { sum += wi(k) * x(k); k += 1 }
                y(i) = sum
                i += 1
              }
              var c = 0
              i = 0
              while (i < d) {
                val yi = y(i)
                var j = i
                while (j < d) { acc(c) += yi * y(j); c += 1; j += 1 }
                i += 1
              }
              n += 1
            }
          }
          if (n == 0L) Iterator.empty
          else {
            var c = -1
            (for (i <- 0 until d; j <- i until d) yield {
              c += 1
              (i + 1L, j + 1L, n, acc(c))
            }).iterator
          }
        }
        .toDF("i", "j", "n", "syy")
      wcells.groupBy("i", "j")
        .agg(sum("n").as("n"), sum("syy").as("syy"))
        .select(col("i"), col("j"), col("n"),
          (round(col("syy") / col("n"), 4) + 0.0).as("wcov"))
        .orderBy("i", "j")
    },

    // ---- #322 groupArrayIntersect ------------------------------------------
    // CH's array-intersection aggregate, in its natural analytic form:
    // per user, the event types fired on EVERY active day (the per-day
    // type sets are the "arrays"; the agg intersects them). Spark-first
    // shape: NO per-group array materialization — an element is in the
    // intersection iff its distinct-day count equals the user's
    // distinct-day count, so the plan is one distinct + two partial-agg
    // folds co-partitioned on user_id (the relational_division move,
    // which is exactly what groupArrayIntersect is once arrays unnest).
    // Users whose intersection is empty keep a row ('' / 0) via the
    // left join — CH returns [] there, not nothing.
    "group_array_intersect" -> OpDef(
      """WITH per AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        |  FROM events),
        |days AS (
        |  SELECT user_id, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
        |  FROM per GROUP BY 1),
        |common AS (
        |  SELECT p.user_id, p.event_type
        |  FROM per p JOIN days d USING (user_id)
        |  GROUP BY p.user_id, p.event_type, d.n_days
        |  HAVING COUNT(DISTINCT p.day) = d.n_days),
        |agged AS (
        |  SELECT user_id,
        |    string_agg(event_type, ',' ORDER BY event_type) AS types,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM common GROUP BY 1)
        |SELECT d.user_id, d.n_days,
        |  COALESCE(a.types, '') AS types,
        |  COALESCE(a.n_common, 0) AS n_common
        |FROM days d LEFT JOIN agged a USING (user_id)
        |ORDER BY d.user_id""".stripMargin
    ) { (s, dir) =>
      val per = Tables(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
        .distinct()
      val days = per.groupBy("user_id")
        .agg(countDistinct("day").cast(LongType).as("n_days"))
      val agged = per.groupBy("user_id", "event_type")
        .agg(countDistinct("day").as("n_type_days"))
        .join(days, "user_id")
        .filter(col("n_type_days") === col("n_days"))
        .groupBy("user_id")
        .agg(concat_ws(",", sort_array(collect_list(col("event_type"))))
          .as("types"),
          count(lit(1)).cast(LongType).as("n_common"))
      days.join(agged, Seq("user_id"), "left_outer")
        .select(col("user_id"), col("n_days"),
          coalesce(col("types"), lit("")).as("types"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
        .orderBy("user_id")
    },

    // ---- #323 sumMapFiltered ----------------------------------------------
    // The key-whitelisted sumMap combinator (#64's -Filtered form): only
    // the listed keys fold. The filter is a scan-level isin PREDICATE —
    // pushed to parquet (PushedFilters: In(event_type, …)), so at 100 TB
    // the non-whitelisted rows never leave the reader, vs filtering the
    // built map after the fact. Same exact-DECIMAL value discipline and
    // sorted key/value render as sum_map.
    "sum_map_filtered" -> OpDef(
      """WITH per AS (
        |  SELECT user_id, event_type,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase', 'view')
        |  GROUP BY 1, 2)
        |SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY event_type) AS map_keys,
        |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY event_type) AS map_sums
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val per = Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase", "view"))
        .groupBy("user_id", "event_type")
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      per.groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("event_type"), col("v")))).as("kv"))
        .select(col("user_id"),
          concat_ws(",", col("kv.event_type")).as("map_keys"),
          concat_ws(",", col("kv.v").cast(ArrayType(StringType))).as("map_sums"))
        .orderBy("user_id")
    },

    // ---- #324 deltaSumTimestamp ---------------------------------------------
    // CH's deltaSumTimestamp: deltaSum whose STATE carries timestamps so
    // partial states merge in time order instead of arrival order. The
    // batch re-expression is the -State/-Merge reagg discipline
    // (bitmap_reagg #316): per-(user, DAY) cells each fold their
    // within-day positive deltas plus endpoint values (first/last by
    // (ts, event_id)), then the per-user merge replays cells in day
    // order and adds the positive BOUNDARY deltas (prev cell's last →
    // next cell's first). Because the boundary diff is exactly the
    // consecutive-row diff the one-pass fold would have seen,
    // merge-of-cells ≡ one-pass deltaSum EXACTLY — so the oracle is the
    // SAME SQL as delta_sum (#70), and the hash pins the merge law, in
    // exact DECIMAL(18,2) end-to-end. Scale shape: the heavy window runs
    // on the (user, day) grain — the partitioning a day-partitioned
    // 100 TB ingest already has, so daily increments fold cells locally
    // and the cross-day merge touches only |users|·|days| cell rows.
    "delta_sum_timestamp" -> OpDef(
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(value AS DECIMAL(18,2))
        |      - lag(CAST(value AS DECIMAL(18,2)))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dv
        |  FROM events)
        |SELECT user_id,
        |  CAST(COALESCE(SUM(CASE WHEN dv > 0 THEN dv END), 0) AS DOUBLE)
        |    AS delta_sum
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val dec = col("value").cast(DecimalType(18, 2))
      val wDay = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
      val okey = struct(col("ts"), col("event_id"))
      val cells = Tables(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .withColumn("dv", dec - lag(dec, 1).over(wDay))
        .groupBy("user_id", "day")
        .agg(coalesce(sum(when(col("dv") > 0, col("dv"))),
            lit(0).cast(DecimalType(18, 2))).as("within"),
          min_by(dec, okey).as("first_v"),
          max_by(dec, okey).as("last_v"))
      val wUser = Window.partitionBy("user_id").orderBy("day")
      cells
        .withColumn("bd", col("first_v") - lag(col("last_v"), 1).over(wUser))
        .groupBy("user_id")
        .agg((sum("within")
          + coalesce(sum(when(col("bd") > 0, col("bd"))), lit(0)))
          .cast(DoubleType).as("delta_sum"))
        .orderBy("user_id")
    },

    // ---- #326 bitmapSubsetRange cardinality ---------------------------------
    // The windowed read-out of the bitmap family (CH bitmapSubsetRange →
    // bitmapCardinality): per type, how many distinct users fall in an id
    // window — answered FROM the #312 serialized cells via the new
    // `bitmap_range_card`, which walks only the containers the range
    // spans (TreeMap.subMap + ≤2 boundary filters), never the fact table
    // and never a full bitmap scan. The [-50, 100) window deliberately
    // spans the signed/unsigned boundary of the r16 sign-flip mapping —
    // the oracle (plain COUNT DISTINCT FILTER) would catch an ordering
    // slip there.
    "bitmap_range_card" -> OpDef(
      """WITH u AS (
        |  SELECT DISTINCT event_type AS t, user_id AS v FROM events)
        |SELECT t AS event_type, CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(COUNT(*) FILTER (WHERE v >= -50 AND v < 100) AS BIGINT) AS n_low,
        |  CAST(COUNT(*) FILTER (WHERE v >= 100 AND v < 200) AS BIGINT) AS n_high
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(call_function("bitmap_agg", col("user_id")).as("bm"))
        .select(col("event_type"),
          call_function("bitmap_card", col("bm")).as("n_total"),
          call_function("bitmap_range_card", col("bm"),
            lit(-50L), lit(100L)).as("n_low"),
          call_function("bitmap_range_card", col("bm"),
            lit(100L), lit(200L)).as("n_high"))
        .orderBy("event_type")
    }
  )
}
