package graft.ops

import graft.OpDef
import graft.cdc.{MaterializedAgg, MultiTable, TypeNormalizer}
import graft.sources.Changes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.1 — the reference sink's CDC semantics as oracle-checked batch
  * queries over the derived change feed ([[graft.sources.Changes]]).
  *
  * Each query is the distributed re-expression of a piece of the reference's
  * single-process loader (`/root/reference/db/ops.go`, `cursor.go`,
  * `sinker.go`): one shuffle on the pk (or module) key, no driver-side state.
  */
object CdcQueries {

  private def withCh(body: String): String =
    s"WITH ch AS (\n${Changes.changesSql}\n)\n$body"

  val defs: Map[String, OpDef] = Map(
    // ---- #1 last-writer-wins replay; DELETE removes the row --------------
    // Reference: final DB state after replaying ops in block order
    // (db/ops.go + db/flush.go), upsert reading of INSERT/UPDATE.
    "cdc_last_state" -> OpDef(
      withCh(
        """SELECT pk AS user_id, amount, note FROM (
          |  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY block DESC) AS rn
          |  FROM ch) q
          |WHERE rn = 1 AND op <> 'DELETE'
          |ORDER BY user_id""".stripMargin)
    ) { (s, dir) =>
      val w = Window.partitionBy("pk").orderBy(col("block").desc)
      Changes(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "DELETE")
        .select(col("pk").as("user_id"), col("amount"), col("note"))
        .orderBy("user_id")
    },

    // ---- #2 field-level merge (ops.go mergeData): last non-null per field
    // after the pk's last DELETE ------------------------------------------
    "cdc_merge_fields" -> OpDef(
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
      val c = Changes(s, dir)
      val lastDel = c.groupBy("pk")
        .agg(max(when(col("op") === "DELETE", col("block"))).as("del_block"))
      val alive = c.join(lastDel, Seq("pk"))
        .filter(col("op") =!= "DELETE" &&
          (col("del_block").isNull || col("block") > col("del_block")))
      val w = Window.partitionBy("pk").orderBy("block")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      alive
        .select(
          col("pk"), col("block"),
          last(col("amount"), ignoreNulls = true).over(w).as("amount"),
          last(col("kval"), ignoreNulls = true).over(w).as("kval"),
          last(col("note"), ignoreNulls = true).over(w).as("note"))
        .withColumn("rn",
          row_number().over(Window.partitionBy("pk").orderBy(col("block").desc)))
        .filter(col("rn") === 1)
        .select(col("pk").as("user_id"), col("amount"), col("kval"), col("note"))
        .orderBy("user_id")
    },

    // ---- #3 INSERT-once-per-pk rule: surface violations (ops.go:29) ------
    "cdc_upsert_dedup" -> OpDef(
      withCh(
        """SELECT pk AS user_id, COUNT(*) AS n_inserts
          |FROM ch WHERE op = 'INSERT'
          |GROUP BY pk HAVING COUNT(*) > 1
          |ORDER BY user_id""".stripMargin)
    ) { (s, dir) =>
      Changes(s, dir)
        .filter(col("op") === "INSERT")
        .groupBy("pk")
        .agg(count(lit(1)).as("n_inserts"))
        .filter(col("n_inserts") > 1)
        .select(col("pk").as("user_id"), col("n_inserts"))
        .orderBy("user_id")
    },

    // ---- #4 cursor at highest block per module (cursor.go:95-104) --------
    // Modules ≙ event types; `is_active` marks cursorAtHighestBlock's pick.
    "cdc_cursor_latest" -> OpDef(
      withCh(
        """SELECT note AS module_hash, MAX(block) AS block_num,
          |  md5(CAST(MAX(block) AS VARCHAR)) AS block_id,
          |  MAX(block) = (SELECT MAX(block) FROM ch) AS is_active
          |FROM ch GROUP BY note
          |ORDER BY module_hash""".stripMargin)
    ) { (s, dir) =>
      Changes(s, dir)
        .groupBy(col("note").as("module_hash"))
        .agg(max("block").as("block_num"))
        .withColumn("block_id", md5(col("block_num").cast(StringType)))
        .withColumn("is_active",
          col("block_num") === max("block_num").over(Window.partitionBy()))
        .orderBy("module_hash")
    },

    // ---- #5 flush batching (sinker.go batchBlockModulo, flush interval 100)
    "cdc_flush_batches" -> OpDef(
      withCh(
        """SELECT block // 100 AS flush_id, COUNT(*) AS n_ops,
          |  COUNT(DISTINCT pk) AS n_pks,
          |  MAX(block) AS cursor_block,
          |  COUNT(*) FILTER (WHERE op = 'DELETE') AS n_deletes
          |FROM ch GROUP BY 1 ORDER BY 1""".stripMargin)
    ) { (s, dir) =>
      Changes(s, dir)
        .groupBy(expr("block div 100").as("flush_id"))
        .agg(
          count(lit(1)).as("n_ops"),
          countDistinct(col("pk")).as("n_pks"),
          max("block").as("cursor_block"),
          count(when(col("op") === "DELETE", 1)).as("n_deletes"))
        .orderBy("flush_id")
    },

    // ---- #6 type normalization (operations.go normalizeValueType) --------
    // Fields arrive as strings; normalize per target type, incl. the
    // epoch-integer→timestamp rule.
    "cdc_type_norm" -> OpDef(
      """WITH raw AS (
        |  SELECT event_id,
        |    CAST(value AS VARCHAR) AS amount_s,
        |    json_extract_string(props, '$.k') AS k_s,
        |    CAST(1700000000 + CAST(json_extract_string(props, '$.k') AS BIGINT)
        |         AS VARCHAR) AS ts_s,
        |    CASE WHEN event_type = 'purchase' THEN 'true' ELSE 'false' END AS flag_s
        |  FROM events)
        |SELECT event_id,
        |  CAST(amount_s AS DOUBLE) AS amount,
        |  CAST(k_s AS BIGINT) AS k,
        |  strftime(make_timestamp(CAST(ts_s AS BIGINT) * 1000000),
        |           '%Y-%m-%d %H:%M:%S') AS ts_norm,
        |  CAST(flag_s AS BOOLEAN) AS flag
        |FROM raw ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val ev = graft.sources.Tables(s, dir, "events")
      val raw = ev.select(
        col("event_id"),
        col("value").cast(StringType).as("amount_s"),
        get_json_object(col("props"), "$.k").as("k_s"),
        (lit(1700000000L) + get_json_object(col("props"), "$.k").cast(LongType))
          .cast(StringType).as("ts_s"),
        when(col("event_type") === "purchase", "true").otherwise("false").as("flag_s"))
      raw.select(
        col("event_id"),
        TypeNormalizer.normalize(col("amount_s"), DoubleType).as("amount"),
        TypeNormalizer.normalize(col("k_s"), LongType).as("k"),
        date_format(
          TypeNormalizer.normalize(col("ts_s"), TimestampType),
          "yyyy-MM-dd HH:mm:ss").as("ts_norm"),
        TypeNormalizer.normalize(col("flag_s"), BooleanType).as("flag"))
        .orderBy("event_id")
    },

    // ---- #48 multi-table change routing (sinker.go:136-174, db/ops.go) ---
    // The reference's actual loop: ONE wire batch carries changes for MANY
    // tables (different pks, different schemas, fields as string maps);
    // each table collapses and applies independently. Here: the two-table
    // wire feed → route → per-table collapse → apply to empty snapshots →
    // union of final states. `accounts` has numeric-string pks + a sparse
    // `note` field (per-FIELD merge) + DELETEs; `categories` has STRING pks
    // and only UPDATEs.
    "cdc_multi_table" -> OpDef(
      """WITH mt AS (
        |  SELECT event_id AS block, 'accounts' AS tbl, CAST(user_id AS VARCHAR) AS pk,
        |    CASE WHEN event_type = 'error' THEN 'DELETE'
        |         WHEN event_type = 'signup' THEN 'INSERT' ELSE 'UPDATE' END AS op,
        |    CAST(value AS VARCHAR) AS amount,
        |    CASE WHEN event_type <> 'view' THEN event_type END AS note
        |  FROM events
        |  UNION ALL
        |  SELECT event_id, 'categories', event_type, 'UPDATE',
        |    CAST(value AS VARCHAR), CAST(user_id AS VARCHAR)
        |  FROM events),
        |lastdel AS (
        |  SELECT tbl, pk, MAX(CASE WHEN op = 'DELETE' THEN block END) AS del_block
        |  FROM mt GROUP BY tbl, pk),
        |alive AS (
        |  SELECT mt.* FROM mt JOIN lastdel USING (tbl, pk)
        |  WHERE op <> 'DELETE' AND (del_block IS NULL OR block > del_block)),
        |merged AS (
        |  SELECT tbl, pk,
        |    last_value(amount IGNORE NULLS) OVER w AS amount,
        |    last_value(note IGNORE NULLS) OVER w AS note,
        |    row_number() OVER (PARTITION BY tbl, pk ORDER BY block DESC) AS rn
        |  FROM alive
        |  WINDOW w AS (PARTITION BY tbl, pk ORDER BY block
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT tbl, pk, CAST(amount AS DOUBLE) AS amount, note
        |FROM merged WHERE rn = 1
        |ORDER BY tbl, pk""".stripMargin
    ) { (s, dir) =>
      val schemas = Changes.multiTableSchemas
      val collapsed = MultiTable.collapseAll(Changes.multiTable(s, dir), schemas)
      val empty = schemas.map { case (t, sch) =>
        t -> s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(StructField("pk", StringType) +: sch.fields))
      }
      MultiTable.applyAll(empty, collapsed, schemas).toSeq.sortBy(_._1)
        .map { case (t, df) =>
          df.select(lit(t).as("tbl"), col("pk"), col("amount"), col("note"))
        }
        .reduce(_ unionByName _)
        .orderBy("tbl", "pk")
    },

    // ---- #63 incremental materialized-view maintenance -------------------
    // The ClickHouse MV the reference's users put over the sink table, kept
    // current with ± delta algebra instead of recompute (MaterializedAgg).
    // The query SIMULATES a flush boundary at half the block range: the agg
    // state is built from the first half (the "existing MV"), then the
    // second half's changes are folded in incrementally — prior rows of
    // touched pks subtract, post-apply rows add. The DuckDB oracle computes
    // the rollup DIRECTLY from the final replayed state, so a hash match
    // proves the incremental path lands bit-identically (exact decimal
    // sums make the algebra associative).
    "mv_incremental" -> OpDef(
      withCh(
        """, lastst AS (
          |  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY block DESC) AS rn
          |  FROM ch),
          |alive AS (SELECT * FROM lastst WHERE rn = 1 AND op <> 'DELETE')
          |SELECT note AS module_hash, COUNT(*) AS n_rows,
          |  CAST(COALESCE(SUM(CAST(amount AS DECIMAL(18,2))), 0) AS DOUBLE) AS total
          |FROM alive GROUP BY note
          |ORDER BY module_hash""".stripMargin)
    ) { (s, dir) =>
      val mv = MaterializedAgg.MvDef("note", "amount")
      // deliberately NOT persisted: the sim re-derives base/touched/new
      // state from the same cheap feed, and caching measured SLOWER than
      // the re-scans (0.77 s vs 1.28 s warm at sf0.1) — the operational
      // path (the sink) holds its batch in memory and never re-reads
      val c = Changes(s, dir)
      val split = broadcast(c.agg(expr("max(block) div 2").as("b0")))
      val cs = c.crossJoin(split)
      def lastState(df: DataFrame): DataFrame = {
        val w = Window.partitionBy("pk").orderBy(col("block").desc)
        df.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("op") =!= "DELETE")
          .select("pk", "note", "amount")
      }
      val base = lastState(cs.filter(col("block") <= col("b0")))
      val touched = cs.filter(col("block") > col("b0")).select("pk").distinct()
      val priorTouched = base.join(touched, Seq("pk"), "left_semi")
      val newTouched = lastState(c.join(touched, Seq("pk"), "left_semi"))
      MaterializedAgg.merge(MaterializedAgg.recompute(base, mv),
          priorTouched, newTouched, mv)
        .select(col("grp").as("module_hash"), col("n_rows"),
          col("total").cast(DoubleType).as("total"))
        .orderBy("module_hash")
    }
  )
}
