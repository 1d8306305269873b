package graft.streaming

import graft.cdc.{BucketedSnapshot, ChangeLoader, Cursor, CursorStore, MultiTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The reference's FULL sink loop — multi-table dispatch + atomic flush —
  * as a `foreachBatch` sink over the wire-shaped change feed
  * (`block, table, pk, op, fields map`).
  *
  * Reference semantics re-expressed (`sinker/sinker.go:136-174` dispatch,
  * `db/flush.go:12-63` one-transaction flush of all tables + cursor):
  *
  *   - the batch routes per table ([[MultiTable.forTable]]), collapses and
  *     applies per table, writing each table's next snapshot as a NEW
  *     pk-bucketed version keyed by batchId;
  *   - per-table cursors (`moduleHash#table`) track each table's newest
  *     version, so tables untouched by a batch are skipped (no rewrite);
  *   - the MODULE cursor commits LAST — it is the transaction's commit
  *     point. A crash before it leaves per-table writes that a replay
  *     deterministically overwrites (prior state resolves via
  *     [[CursorStore.readBatchBefore]], never the half-written batch), so
  *     the observable state (module cursor → table versions) moves
  *     atomically: exactly-once under micro-batch replay.
  */
final class MultiTableChangeSink(
    baseDir: String,
    moduleHash: String,
    schemas: Map[String, StructType],
    buckets: Int = 8
) {

  private lazy val prefix =
    BucketedSnapshot.tablePrefix(SparkSession.active, "mt", baseDir, moduleHash)
  private[graft] def snapTable(table: String, batchId: Long) =
    s"${prefix}_${table}_v$batchId"

  private def tableCursorKey(table: String) = s"$moduleHash#$table"

  /** A committed table version; its files live under `baseDir`
    * ([[BucketedSnapshot.resolve]]), so a new process finds it too.
    */
  private def version(spark: SparkSession, table: String, batchId: Long): DataFrame =
    BucketedSnapshot.committed(spark, baseDir, snapTable(table, batchId), buckets)

  /** Each table's newest snapshot AS OF the module cursor — per-table
    * commits from a partially-flushed (crashed) batch stay invisible until
    * the module cursor lands, preserving the one-transaction reader view.
    */
  def latestSnapshots(spark: SparkSession): Map[String, DataFrame] = {
    val store = new CursorStore(s"$baseDir/cursor", spark)
    store.readWithBatch(moduleHash) match {
      case None => Map.empty
      case Some((_, moduleBid)) =>
        schemas.keys.flatMap { t =>
          store.readBatchBefore(tableCursorKey(t), moduleBid + 1).map { case (_, bid) =>
            t -> version(spark, t, bid)
          }
        }.toMap
    }
  }

  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val store = new CursorStore(s"$baseDir/cursor", spark)
    if (store.committed(moduleHash, batchId)) return // replay: durable already
    val t0 = System.currentTimeMillis()
    // One scan feeds every table's route + the one head aggregate. The
    // cache is built through the one delta exchange — hash-partitioned by
    // pk like the bucketed versions — so each table's collapse and apply
    // join read it without shuffling again.
    val cached = batch.repartition(buckets, col("pk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one action, one shuffle per micro-batch: each table's (max block,
      // min block, ops); an empty batch has no rows and commits nothing
      val heads = cached.groupBy("table")
        .agg(max("block"), min("block"), count(lit(1)))
        .collect().map(r => r.getString(0) -> r).toMap
      if (heads.isEmpty) return
      schemas.foreach { case (t, sch) =>
        heads.get(t).foreach { h =>
          val fields = MultiTable.fieldCols(sch)
          val collapsed = ChangeLoader.collapse(MultiTable.forTable(cached, t, sch), fields)
          // prior = the table's newest version from a batch STRICTLY before
          // this one (a replay after a partial flush must not read its own
          // half-written version)
          val prior = store.readBatchBefore(tableCursorKey(t), batchId) match {
            case Some((_, bid)) => version(spark, t, bid)
            case None =>
              spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                collapsed.drop("last_block", "deleted", "revived").schema)
          }
          val next = ChangeLoader.applyBatch(prior, collapsed, fields)
          BucketedSnapshot.write(next, baseDir, snapTable(t, batchId), buckets)
          val mx = h.getLong(1)
          store.commit(Cursor(tableCursorKey(t), s"cursor:$mx", mx, s"block:$mx"), batchId)
        }
      }
      val rows = heads.values.toSeq
      val maxBlock = rows.map(_.getLong(1)).max
      // stats first: a replay of an uncommitted batch overwrites its entry
      val wall = math.max(1, System.currentTimeMillis() - t0)
      new SinkStats(s"$baseDir/stats", spark).record(FlushStat(
        moduleHash, batchId, maxBlock, rows.map(_.getLong(2)).min, rows.map(_.getLong(3)).sum,
        flushMillis = wall, wallMillis = wall))
      // the transaction commit point: everything above is invisible to
      // readers (latestSnapshots resolves through cursors) until this lands
      store.commit(Cursor(moduleHash, s"cursor:$maxBlock", maxBlock,
        s"block:$maxBlock"), batchId)
    } finally cached.unpersist()
  }

  /** Attach to a streaming wire-shaped changes frame. */
  def start(changes: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .start()
}
