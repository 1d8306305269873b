package graft.cdc

import org.apache.spark.sql.SparkSession

/** A stored stream cursor (reference `db/cursor.go` cursors table row). */
final case class Cursor(
    moduleHash: String,
    cursor: String,
    blockNum: Long,
    blockId: String
)

/** How to react when no cursor exists for the module hash but cursors exist
  * for OTHER hashes (the reference's `--on-module-hash-mistmatch`,
  * `sinker/sinker.go` + `db/cursor.go:95-137`).
  */
object MismatchMode {
  val Error = "error"
  val Warn = "warn"
  val Ignore = "ignore"
}

/** Cursor store with idempotent, batch-scoped commits.
  *
  * Re-expresses the reference's cursor table (`db/cursor.go:27-137`): one
  * logical row per output-module hash, atomically advanced with each flush.
  * Each commit is one JSON file in a [[MetadataLog]] under `path`:
  *
  * {{{
  *   <path>/<escaped moduleHash>/<batchId>.json   {"moduleHash":…,"cursor":…,"blockNum":…,"blockId":…}
  * }}}
  *
  * The file is written under a hidden temp name and renamed into place only
  * if the target is absent — the rename is the commit point, the first
  * commit of a batchId wins and a replayed commit is a no-op, giving
  * exactly-once cursor semantics under Structured Streaming retries. The
  * current cursor is the entry with the highest (batchId, blockNum); with
  * one entry per batchId that is the highest batchId. Every read is one
  * directory listing plus at most one small file read on the driver — the
  * lake-native equivalent of the reference's UPDATE-in-txn, with no Spark
  * job.
  *
  * [[compact]] bounds growth at production flush rates, and the admin
  * surface ([[allCursors]]/[[delete]]/[[deleteAll]]) mirrors the reference's
  * `GetAllCursors`/`DeleteCursor`/`DeleteAllCursors`
  * (`db/cursor.go:26-46,129-143`).
  */
final class CursorStore(path: String, spark: SparkSession) {

  private val log = new MetadataLog(path, spark.sparkContext.hadoopConfiguration)

  private def newest(moduleHash: String, batchIds: Seq[Long]): Option[(Cursor, Long)] =
    batchIds.maxOption.map(b => (log.get(moduleHash, b, classOf[Cursor]), b))

  /** Current cursor for the module hash, exact match only. */
  def read(moduleHash: String): Option[Cursor] = readWithBatch(moduleHash).map(_._1)

  /** Current cursor plus the micro-batch id that committed it. Resolution
    * is by commit order (batchId), not block height — a rollback commit
    * legitimately moves the block number backwards.
    */
  def readWithBatch(moduleHash: String): Option[(Cursor, Long)] =
    newest(moduleHash, log.batches(moduleHash))

  /** Newest cursor committed STRICTLY BEFORE `batchId`. The crash-replay-
    * safe prior resolution for a multi-step flush: a replayed batch whose
    * per-table commits partially landed must base itself on the PREVIOUS
    * batch's state, never on its own half-written one.
    */
  def readBatchBefore(moduleHash: String, batchId: Long): Option[(Cursor, Long)] =
    newest(moduleHash, log.batches(moduleHash).filter(_ < batchId))

  /** The cursor row a specific micro-batch committed (rollback resolution). */
  def cursorAt(moduleHash: String, batchId: Long): Option[Cursor] =
    newest(moduleHash, log.batches(moduleHash).filter(_ == batchId)).map(_._1)

  /** Has this (moduleHash, batchId) already committed? The sink's replay
    * no-op check: a committed batch's snapshot + cursor are durable, so the
    * whole flush can be skipped.
    */
  def committed(moduleHash: String, batchId: Long): Boolean =
    log.batches(moduleHash).contains(batchId)

  /** Every batchId committed for the module (unordered). */
  def allBatches(moduleHash: String): Seq[Long] = log.batches(moduleHash)

  /** Highest batchId committed for the module (−1 when none). */
  def maxBatchId(moduleHash: String): Long =
    log.batches(moduleHash).maxOption.getOrElse(-1L)

  /** Reference `cursorAtHighestBlock` (db/cursor.go:48-104): on a
    * module-hash mismatch BOTH `warn` and `ignore` adopt the cursor at the
    * highest block across all hashes and use it as the starting point
    * (warn additionally logs; run.go's flag doc: "If 'warn' is used, it
    * does the same as 'ignore' but it will log a warning"); `error`
    * throws. r17 (ADVICE item 1): `ignore` previously started FRESH,
    * inverting the reference semantics. The candidate is the highest-block
    * cursor among each module's RESOLVED cursor (the reference scans
    * `GetAllCursors`), not the highest-block raw log row — an overwritten
    * old row must not win.
    */
  def readWithMismatch(moduleHash: String, mode: String): Option[Cursor] =
    read(moduleHash).orElse {
      // deterministic tie-break on moduleHash (the reference iterates a Go
      // map — unspecified; determinism is strictly safer)
      val other = allCursors().values.toSeq
        .sortBy(c => (-c.blockNum, c.moduleHash)).headOption
      (other, mode) match {
        case (None, _) => None
        case (Some(c), MismatchMode.Warn) =>
          System.err.println(
            s"warn: cursor module hash mismatch, continuing using cursor " +
              s"at highest block ${c.blockNum} (module ${c.moduleHash}, " +
              s"expected $moduleHash); silence with " +
              "--on-module-hash-mistmatch=ignore")
          Some(c)
        case (Some(c), MismatchMode.Ignore) => Some(c)
        case (Some(c), _) => throw new IllegalStateException(
          s"cursor exists for module ${c.moduleHash}, expected $moduleHash " +
            "(on-module-hash-mismatch=error)")
      }
    }

  /** Idempotent commit: committing the same (moduleHash, batchId) twice
    * leaves the first entry in place (replay-safe).
    */
  def commit(c: Cursor, batchId: Long): Unit =
    log.put(c.moduleHash, batchId, c, overwrite = false)

  // ---- admin surface (reference db/cursor.go:26-46,129-143) --------------

  /** The resolved (current) cursor of every module — `GetAllCursors`. */
  def allCursors(): Map[String, Cursor] =
    log.keys().getOrElse(Nil).flatMap(read).map(c => c.moduleHash -> c).toMap

  /** Drop every cursor entry of one module — `DeleteCursor`. Returns the
    * number of entries removed (the reference errors on not-found; callers
    * can check == 0).
    */
  def delete(moduleHash: String): Long = log.delete(moduleHash)

  /** Drop the whole store — `DeleteAllCursors`. */
  def deleteAll(): Long = log.deleteAll()

  /** Bound log growth: keep only each module's newest `keepLast` commits,
    * deleting older entry files (a crash mid-way loses no kept entry). The
    * resolved cursor of every module is unchanged (resolution only ever
    * looks at the highest batchIds); older entries exist for audit/rollback,
    * so retention is the caller's policy.
    */
  def compact(keepLast: Int = 16): Long = log.compact(keepLast)
}
