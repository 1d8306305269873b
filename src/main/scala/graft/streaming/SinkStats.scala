package graft.streaming

import graft.cdc.MetadataLog
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Per-flush sink statistics — the reference's progress metrics
  * (`sinker/stats.go`, `sinker/metrics.go`: blocks/sec, entries flushed,
  * flush duration).
  */
final case class FlushStat(
    moduleHash: String,
    batchId: Long,
    maxBlock: Long,
    minBlock: Long,
    nOps: Long,
    flushMillis: Long,
    wallMillis: Long
)

/** The durable stats log: one JSON entry per (moduleHash, batchId) in a
  * [[graft.cdc.MetadataLog]] under `path`
  * (`<path>/<escaped moduleHash>/<batchId>.json`), written from the driver
  * by a temp-then-rename, and queryable with the same engine through
  * `spark.read.json`. A flush writes its entry before its cursor commit; a
  * replayed flush overwrites the entry of its batchId instead of adding a
  * second one.
  */
final class SinkStats(path: String, spark: SparkSession) {

  private val entries = new MetadataLog(path, spark.sparkContext.hadoopConfiguration)

  def record(stat: FlushStat): Unit =
    entries.put(stat.moduleHash, stat.batchId, stat, overwrite = true)

  /** Every recorded flush; None only when nothing was ever recorded.
    * Entries are read against the current [[FlushStat]] schema, so fields
    * an older writer recorded (`nPks`) are ignored.
    */
  def log(): Option[DataFrame] = entries.keys().map { _ =>
    spark.read.schema(Encoders.product[FlushStat].schema)
      .option("recursiveFileLookup", "true").option("mode", "FAILFAST").json(path)
  }

  /** The reference's headline rates, computed over the recorded flushes:
    * blocks/sec and entries/sec per module (wall time), plus mean flush
    * duration.
    */
  def rates(): Option[DataFrame] = log().map { df =>
    df.groupBy("moduleHash")
      .agg(
        max("maxBlock").as("head_block"),
        sum("nOps").as("entries"),
        count(lit(1)).as("flushes"),
        avg("flushMillis").as("avg_flush_ms"),
        (sum("nOps") * 1000.0 / sum("wallMillis")).as("entries_per_sec"),
        // blocks PROCESSED per second (head − start), not absolute head
        // height — a stream resuming at chain head ~20M must not report a
        // 20M-block flush.
        ((max("maxBlock") - min("minBlock")) * 1000.0 / sum("wallMillis"))
          .as("blocks_per_sec"))
  }
}
