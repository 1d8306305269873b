package graft.streaming

import graft.PlanAudit
import graft.cdc.{BucketedSnapshot, ChangeLoader, Cursor, CursorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** SURVEY §2.1 #8 — the reference's sink loop (`sinker/sinker.go:96-190` +
  * `db/flush.go`) as a Structured Streaming `foreachBatch` sink.
  *
  * Per micro-batch (the flush unit — the reference flushes every N blocks;
  * here the trigger interval plays that role):
  *
  *   0. if the cursor store already has (moduleHash, batchId) committed,
  *      return — a replayed batch's snapshot + cursor are already durable,
  *      so recovery is a true no-op (never recompute, never touch a path a
  *      concurrent plan might be reading),
  *   1. collapse the batch's changes per pk ([[ChangeLoader.collapse]] — the
  *      reference's in-batch op merge),
  *   2. read the prior snapshot, apply the collapsed ops
  *      ([[ChangeLoader.applyBatch]]), write the next snapshot version
  *      (a NEW pk-bucketed table per batchId — never overwriting a version
  *      being read),
  *   3. record the flush's [[SinkStats]] entry (a replay overwrites it),
  *   4. commit the cursor keyed by batchId: one JSON file renamed into
  *      place ([[CursorStore.commit]] is a no-op on replay).
  *
  * Steps 2+4 give the reference's "ops + cursor in one transaction"
  * exactly-once guarantee under micro-batch replay.
  *
  * Per-flush shape (a live one-block flush runs ≤ 6 Spark jobs):
  *
  *   - one head shuffle per micro-batch: `groupBy(_unit)` of (max block,
  *     min block, count) gives the units and each unit's [[FlushStat]];
  *   - one delta exchange per micro-batch: the batch is cached
  *     hash-partitioned by pk into `buckets` partitions, and each unit's
  *     collapse window, its delete aggregate and the apply join's delta
  *     side read it without shuffling again. Snapshot
  *     versions are pk-bucketed+sorted tables ([[BucketedSnapshot]]), so the
  *     snapshot side arrives pre-partitioned and never shuffles — per-flush
  *     network is O(batch), not O(snapshot), the lake equivalent of the
  *     reference target's ORDER BY pk MergeTree merge;
  *   - a one-wave rewrite: [[BucketedSnapshot.write]] packs the bucket
  *     partitions into as many tasks as a file scan of that size would get,
  *     one file per bucket. (The snapshot files are still rewritten each
  *     flush; bounding that needs a compacting format's merge-on-read.)
  *
  * The live counters ([[LiveSinkStats]]) carry per-phase time: head,
  * write (collapse+apply+write), stats and commit.
  */
/** The reference's flush cadence (`sinker/sinker.go:20-21,180-194`):
  * historical blocks flush every `HISTORICAL_BLOCK_FLUSH_EACH` (1000),
  * blocks at the live edge (≥ `headBlock`) flush EVERY block, and a
  * positive `flushInterval` overrides the historical modulo.
  */
final case class FlushPolicy(
    flushInterval: Long = 0L,
    headBlock: Long = Long.MaxValue
) {
  def modulo: Long =
    if (flushInterval > 0) flushInterval else FlushPolicy.HistoricalEach

  /** The flush unit a block belongs to. Historical units (block ÷ modulo)
    * are always numerically below live units (the block number itself, one
    * unit per block), so ascending unit order is ascending block order.
    */
  def unitOf(block: Long): Long =
    if (block >= headBlock) block else block / modulo
}

object FlushPolicy {
  val HistoricalEach = 1000L
  val LiveEach = 1L

  /** Max flush units per micro-batch: a unit's version id is
    * `batchId * UnitStride + unit index`.
    */
  val UnitStride = 4096L
}

/** Size-triggered compaction for the merge-on-read write path: the base
  * re-materializes when EITHER the pending-delta count reaches `maxDeltas`
  * (the read plan's depth bound) OR the deltas' accumulated on-disk bytes
  * reach `maxDeltaBytes`. A count alone compacts a trickle of tiny deltas
  * as eagerly as a burst of huge ones; a byte threshold makes compaction
  * track the actual read amplification.
  * Byte totals come from filesystem metadata (a driver-side listing of the
  * delta tables' files — no Spark job, no data read).
  */
final case class CompactionPolicy(
    maxDeltas: Int = Int.MaxValue,
    maxDeltaBytes: Long = Long.MaxValue
) {
  require(maxDeltas >= 1, "maxDeltas must be ≥ 1")
  require(maxDeltaBytes >= 1, "maxDeltaBytes must be ≥ 1")
  require(maxDeltas != Int.MaxValue || maxDeltaBytes != Long.MaxValue,
    "unbounded CompactionPolicy would never compact")
}

final class ChangeStreamSink(
    baseDir: String,
    moduleHash: String,
    fieldCols: Seq[String],
    buckets: Int = 8,
    policy: Option[FlushPolicy] = None,
    /** Merge-on-read: None (default) materializes the full snapshot every
      * flush (simple, read-optimal). When set, flushes write only the
      * COLLAPSED DELTA — O(delta) disk I/O, the MergeTree-style write path —
      * until the [[CompactionPolicy]]'s count or byte threshold trips and
      * the base re-materializes (compaction). Reads compose base + pending
      * deltas, so the plan depth between compactions is bounded by
      * `maxDeltas`.
      */
    compaction: Option[CompactionPolicy] = None,
    /** When set, maintain an incremental materialized rollup alongside the
      * snapshot ([[graft.cdc.MaterializedAgg]]): each flush writes an
      * O(groups) agg-state version updated from ONLY the batch's pks —
      * prior rows subtract, post-apply rows add — committed under the same
      * batchId as the snapshot, so replay/rollback semantics carry over.
      */
    mv: Option[graft.cdc.MaterializedAgg.MvDef] = None
) {
  /** Snapshot versions are catalog tables (bucketing metadata lives in the
    * catalog) whose files live under `baseDir` ([[BucketedSnapshot.resolve]]);
    * the name is namespaced by (qualified baseDir, moduleHash) so parallel
    * sinks never collide ([[BucketedSnapshot.tablePrefix]]).
    */
  private lazy val tablePrefix =
    BucketedSnapshot.tablePrefix(SparkSession.active, "snap", baseDir, moduleHash)
  private[graft] def snapTable(batchId: Long) = s"${tablePrefix}_v$batchId"

  /** The last flush's apply join, kept unplanned (spec hook). */
  @volatile private[graft] var lastApply: Option[DataFrame] = None

  /** Plan audit of the last flush's apply join (spec hook: proves the
    * snapshot side contributed no shuffle), planned only when asked.
    */
  private[graft] def lastApplyAudit: Option[PlanAudit.Audit] =
    lastApply.map(df => PlanAudit.audit(df.queryExecution.executedPlan))

  private def deltaTable(batchId: Long) = s"${tablePrefix}_d$batchId"

  private[graft] def mvTable(batchId: Long) = s"${tablePrefix}_m$batchId"

  /** A rollup state version (not bucketed). */
  private def mvVersion(spark: SparkSession, batchId: Long): Option[DataFrame] =
    BucketedSnapshot.resolve(spark, baseDir, mvTable(batchId), buckets = 0)

  private def committedVersion(spark: SparkSession, table: String): DataFrame =
    BucketedSnapshot.committed(spark, baseDir, table, buckets)

  private def isDelta(spark: SparkSession, batchId: Long): Boolean =
    BucketedSnapshot.resolve(spark, baseDir, deltaTable(batchId), buckets).isDefined

  /** On-disk bytes of a version table — a recursive file listing of its
    * directory (driver-side metadata only; no job, no footer reads).
    */
  private def tableBytes(spark: SparkSession, table: String): Long = {
    val path = BucketedSnapshot.path(spark, baseDir, table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var sum = 0L
    while (it.hasNext) sum += it.next().getLen
    sum
  }

  /** The newest committed snapshot (resolved through the cursor store).
    * With merge-on-read, pending deltas since the last materialized base
    * fold into the read plan oldest-first — at most `maxDeltas` applies
    * deep.
    */
  def latestSnapshot(spark: SparkSession): Option[DataFrame] = {
    val store = new CursorStore(s"$baseDir/cursor", spark)
    store.readWithBatch(moduleHash).map { case (_, bid) => snapshotAt(spark, store, bid) }
  }

  /** The newest committed materialized-rollup state (only when the sink was
    * constructed with `mv`); [[graft.cdc.MaterializedAgg.view]] for the
    * reader-facing shape.
    */
  def latestMv(spark: SparkSession): Option[DataFrame] = mv.flatMap { _ =>
    val store = new CursorStore(s"$baseDir/cursor", spark)
    store.readWithBatch(moduleHash).flatMap { case (_, bid) => mvVersion(spark, bid) }
  }

  /** The snapshot as of a committed version: the version's base table, or —
    * for a delta version — the newest base with every pending delta folded
    * in oldest-first.
    */
  private def snapshotAt(spark: SparkSession, store: CursorStore, bid: Long): DataFrame =
    if (!isDelta(spark, bid)) committedVersion(spark, snapTable(bid))
    else {
      val bids = store.allBatches(moduleHash).filter(_ <= bid).sorted.reverse
      val (deltas, rest) = bids.span(isDelta(spark, _))
      val base = rest.headOption.map(b => committedVersion(spark, snapTable(b))).getOrElse {
        val schema = committedVersion(spark, deltaTable(deltas.last))
          .drop("last_block", "deleted", "revived").schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
      deltas.reverse.foldLeft(base) { (snap, b) =>
        ChangeLoader.applyBatch(snap, committedVersion(spark, deltaTable(b)), fieldCols)
      }
    }

  /** [[FlushPolicy.unitOf]] as a column — the data-side twin of the driver
    * method, so unit derivation runs distributed and the driver only ever
    * sees the ≤ [[FlushPolicy.UnitStride]] distinct unit ids.
    */
  private def unitCol(p: FlushPolicy): org.apache.spark.sql.Column =
    when(col("block") >= p.headBlock, col("block"))
      .otherwise(expr(s"block div ${p.modulo}"))

  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    // without a policy the whole micro-batch is one flush versioned by its
    // batchId: a committed replay returns before any Spark job
    if (policy.isEmpty &&
        new CursorStore(s"$baseDir/cursor", batch.sparkSession).committed(moduleHash, batchId))
      return
    // The reference flushes whenever blockNum % modulo == 0
    // (`sinker.go:119`); the lake equivalent partitions the micro-batch
    // into contiguous block ranges (one per flush unit) and runs one
    // versioned flush per unit, in block order. Unit ids are data-derived
    // (deterministic), so a replayed micro-batch regenerates the same
    // sub-flushes and each one's committed-check skips what already
    // landed — mid-batch crash recovery resumes at the exact unit.
    //
    // Persist FIRST: the one aggregate below materializes the cache, and
    // every sub-flush filters the cached frame — one micro-batch source
    // scan total, however many units a historical backfill spans. The cache
    // is built through the micro-batch's one delta exchange: hash-partitioned
    // by pk into `buckets` partitions, the partitioning of the bucketed
    // snapshot, so the collapse window, its delete aggregate and the apply
    // join's delta side all read it without shuffling again.
    val withUnit = batch.withColumn("_unit", policy.map(unitCol).getOrElse(lit(0L)))
      .repartition(buckets, col("pk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one action, one shuffle per micro-batch: the units and each unit's
      // head (max block, min block, ops). Grouped by the unit EXPRESSION,
      // never raw blocks — driver traffic is O(units) ≤ UnitStride by the
      // require below; an empty batch has no units. It reads the cache in
      // one wave of tasks, not one task per bucket.
      val h0 = System.nanoTime()
      val heads = withUnit.coalesce(batch.sparkSession.sparkContext.defaultParallelism)
        .groupBy("_unit")
        .agg(max("block"), min("block"), count(lit(1)))
        .collect().sortBy(_.getLong(0))
      var headNanos = System.nanoTime() - h0
      require(heads.length <= FlushPolicy.UnitStride,
        s"micro-batch spans ${heads.length} flush units (> ${FlushPolicy.UnitStride}); " +
          "raise the trigger rate or the flush interval")
      heads.zipWithIndex.foreach { case (h, idx) =>
        val bid = if (policy.isEmpty) batchId else batchId * FlushPolicy.UnitStride + idx
        // a lone unit is the whole frame: filtering on its id would inline
        // a new literal, and so compile new code, every live flush
        val unit = if (heads.length == 1) withUnit else withUnit.filter(col("_unit") === h.getLong(0))
        if (flushOne(unit.drop("_unit"), bid,
            FlushStat(moduleHash, bid, h.getLong(1), h.getLong(2), h.getLong(3), 0L, 0L), headNanos))
          headNanos = 0L // the head phase counts once, with the first flush
      }
    } finally { withUnit.unpersist(blocking = false); () }
  }

  /** One versioned flush of `batch`; `head` carries the unit's block range
    * and counts (its timings are filled in here). False when `bid` is
    * already committed (a replay).
    */
  private def flushOne(batch: DataFrame, bid: Long, head: FlushStat, headNanos: Long): Boolean = {
    val spark = batch.sparkSession
    val store = new CursorStore(s"$baseDir/cursor", spark)
    // one listing resolves the replay check, the current version and the
    // pending deltas (newest first)
    val committed = store.allBatches(moduleHash).sorted.reverse
    if (committed.contains(bid)) return false // replay: durable already
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val collapsed = ChangeLoader.collapse(batch, fieldCols)
    val pendingBids = committed.takeWhile(isDelta(spark, _))
    val materialize = compaction.forall { cp =>
      pendingBids.size >= cp.maxDeltas ||
        (cp.maxDeltaBytes != Long.MaxValue &&
          pendingBids.map(b => tableBytes(spark, deltaTable(b))).sum >= cp.maxDeltaBytes)
    }
    val tFlush = System.currentTimeMillis()
    val current = committed.headOption
    lazy val prior = current match {
      case Some(b) => snapshotAt(spark, store, b)
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          collapsed.drop("last_block", "deleted", "revived").schema)
    }
    if (materialize) {
      val next = ChangeLoader.applyBatch(prior, collapsed, fieldCols)
      // the write binds `next` to the cached batch (its withCachedData), so
      // a later audit still sees what this flush read
      BucketedSnapshot.write(next, baseDir, snapTable(bid), buckets)
      lastApply = Some(next)
    } else {
      // merge-on-read delta flush: write ONLY the collapsed batch —
      // O(delta) disk, the MergeTree-style write path; readers fold it in
      BucketedSnapshot.write(collapsed, baseDir, deltaTable(bid), buckets)
    }
    // incremental rollup: delta-merge from ONLY the batch's pks (prior rows
    // via a pk semi-join on the bucketed snapshot), versioned under this
    // batchId — written BEFORE the cursor commit, same durability order as
    // the snapshot itself (a crash in between replays into the overwrite)
    mv.foreach { d =>
      val priorAgg = current.flatMap(mvVersion(spark, _))
        .getOrElse(graft.cdc.MaterializedAgg.empty(collapsed, d))
      val touched = collapsed.select("pk")
      val priorTouched = prior.join(touched, Seq("pk"), "left_semi")
      val newTouched = ChangeLoader.applyBatch(priorTouched, collapsed, fieldCols)
      BucketedSnapshot.write(graft.cdc.MaterializedAgg.merge(priorAgg, priorTouched, newTouched, d),
        baseDir, mvTable(bid), buckets = 0)
    }
    // the stats entry lands before the cursor: a crash in between leaves an
    // entry that the replay of this batchId overwrites, never a second one
    val flushMillis = System.currentTimeMillis() - tFlush
    val n1 = System.nanoTime()
    new SinkStats(s"$baseDir/stats", spark).record(head.copy(flushMillis = flushMillis,
      wallMillis = math.max(1, System.currentTimeMillis() - t0)))
    val n2 = System.nanoTime()
    // the commit point: the snapshot above becomes visible to readers
    store.commit(Cursor(moduleHash, s"cursor:${head.maxBlock}", head.maxBlock,
      s"block:${head.maxBlock}"), bid)
    val n3 = System.nanoTime()
    // live counters (the reference's process-wide metrics set); the flush
    // duration spans every phase, so the phases never sum past it
    LiveSinkStats.of(moduleHash).recordFlush(head.nOps, head.maxBlock, headNanos + (n3 - n0),
      Map("head" -> headNanos, "write" -> (n1 - n0), "stats" -> (n2 - n1), "commit" -> (n3 - n2)))
    true
  }

  /** Roll the sink back to an earlier committed batch (a chain-reorg /
    * BlockUndoSignal response). The reference refuses undo signals outright
    * (`sinker/sinker.go:176` errors on any undo); here versioned snapshots
    * make it a cursor re-commit — the snapshot written by `toBatchId`
    * becomes current again and later versions are ignored.
    *
    * The re-committed cursor carries the BLOCK number the rolled-back batch
    * originally committed (read from its cursor row), keeping blockNum-based
    * resolution (`readWithMismatch` warn mode) truthful. `newBatchId` must
    * exceed every committed batchId — a collision with a future Structured
    * Streaming batch would make that batch's commit a silent no-op — so it
    * fails fast instead.
    */
  def rollbackTo(spark: SparkSession, toBatchId: Long, newBatchId: Long): Unit = {
    val store = new CursorStore(s"$baseDir/cursor", spark)
    val rolled = store.cursorAt(moduleHash, toBatchId).getOrElse(
      throw new IllegalArgumentException(s"no committed cursor for batch $toBatchId"))
    val maxCommitted = store.maxBatchId(moduleHash)
    require(newBatchId > maxCommitted,
      s"newBatchId $newBatchId must exceed every committed batchId (max $maxCommitted); " +
        "a collision would silently swallow a future micro-batch's commit")
    // re-commit the old snapshot under the new batch id so the cursor log
    // stays append-only and resolves (by commit order) to the rolled-back
    // state (snapshotAt materializes even if toBatchId was a delta version)
    BucketedSnapshot.write(snapshotAt(spark, store, toBatchId), baseDir, snapTable(newBatchId),
      buckets)
    // the rollup rolls back with the snapshot: re-expose the old version's
    // agg state under the new batchId (every mv flush wrote one)
    mv.foreach { _ =>
      mvVersion(spark, toBatchId).foreach(
        BucketedSnapshot.write(_, baseDir, mvTable(newBatchId), buckets = 0))
    }
    store.commit(Cursor(moduleHash, s"cursor:rollback:${rolled.blockNum}",
      rolled.blockNum, rolled.blockId), newBatchId)
  }

  /** Attach to a streaming changes frame. */
  def start(changes: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      // named after the module so LiveSinkStats.listener(queryName = ...)
      // can pick this query's progress events off the session-global bus.
      // A per-start nonce keeps active-query names unique: Spark rejects two
      // live queries with the same name, so a bare moduleHash would make
      // restart-while-prior-query-still-active (or two sinks sharing a
      // hash) throw. The listener matches on the moduleHash PREFIX.
      .queryName(s"$moduleHash-${java.util.UUID.randomUUID().toString.take(8)}")
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .start()
}
