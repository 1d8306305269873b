package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Bucketed snapshot storage — the 100 TB layout for the CDC apply loop.
  *
  * The flush join ([[ChangeLoader.applyBatch]]) is a full-outer join on pk
  * between the (huge) snapshot and the (small) collapsed batch. Stored flat,
  * every flush re-shuffles the entire snapshot; stored bucketed+sorted by
  * pk, the snapshot scan already satisfies the join's required partitioning
  * and ONLY the delta shuffles — per-flush cost drops from O(snapshot) to
  * O(batch) network. This is the lake equivalent of the reference target's
  * ORDER BY pk MergeTree layout.
  *
  * A sink's version tables keep their files under the sink's own base dir
  * (`<baseDir>/tables/<name>`), next to its cursor, and the session catalog
  * only indexes them: [[resolve]] re-registers a version a new process has
  * not seen yet, so a restarted sink resumes from its committed cursor.
  */
object BucketedSnapshot {

  /** Where a version table's files live, qualified: the catalog would
    * resolve a relative location against the warehouse dir instead.
    */
  def path(spark: SparkSession, baseDir: String, table: String): Path =
    qualified(spark, s"$baseDir/tables/$table")

  private def qualified(spark: SparkSession, dir: String): Path = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** The name prefix of one sink's version tables: `graft_<kind>_` plus an
    * MD5 of the QUALIFIED base dir and the module hash, so parallel sinks
    * never collide and `tgt` and `/abs/path/tgt` name the same sink.
    */
  def tablePrefix(spark: SparkSession, kind: String, baseDir: String,
      moduleHash: String): String = {
    val h = MessageDigest.getInstance("MD5")
      .digest(s"${qualified(spark, baseDir)}:$moduleHash".getBytes(StandardCharsets.UTF_8))
      .take(5).map("%02x".format(_)).mkString
    s"graft_${kind}_$h"
  }

  /** Persist a version table under `baseDir`, bucketed+sorted by pk
    * (`buckets` 0 = a plain table, for the rollup states).
    *
    * A bucketed write runs in [[writeTasks]] tasks, not one per bucket:
    * `coalesce` packs whole input partitions, so when `df` arrives
    * hash-partitioned by pk into `buckets` partitions (the apply join over
    * a bucketed snapshot does) each bucket still lands in one task and the
    * version keeps one file per bucket.
    */
  def write(df: DataFrame, baseDir: String, table: String, buckets: Int): Unit = {
    val packed = if (buckets > 0) df.coalesce(writeTasks(df, buckets)) else df
    val w = packed.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path(df.sparkSession, baseDir, table).toString)
    (if (buckets > 0) w.bucketBy(buckets, "pk").sortBy("pk") else w).saveAsTable(table)
  }

  /** Tasks for a bucketed write: the partitions Spark packs a file scan of
    * the same size into — the input's estimated bytes as one file per
    * bucket, packed by [[FilePartition.getFilePartitions]] at
    * [[FilePartition.maxSplitBytes]], so never more than `buckets`. An
    * input of unknown size (Spark's default estimate is `Long.MaxValue`)
    * keeps one task per bucket.
    */
  private def writeTasks(df: DataFrame, buckets: Int): Int = {
    val spark = df.sparkSession
    // leaf estimates only: the cache-substituted plan, no optimizer pass
    val inputBytes = df.queryExecution.withCachedData.collectLeaves().map(_.stats.sizeInBytes).sum
    val total = inputBytes + BigInt(buckets) * spark.sessionState.conf.filesOpenCostInBytes
    if (!total.isValidLong) buckets
    else {
      val file = PartitionedFile(InternalRow.empty, SparkPath.fromPathString("bucket"), 0,
        (inputBytes / buckets).toLong)
      FilePartition.getFilePartitions(spark, Seq.fill(buckets)(file),
        FilePartition.maxSplitBytes(spark, total.toLong)).size
    }
  }

  /** A version table, or None when neither the session's catalog nor
    * `baseDir` holds it. On a catalog miss the table is re-registered over
    * its directory with the bucketing it was written with — the column list
    * is spelled out because Spark rejects bucketing without one.
    */
  def resolve(spark: SparkSession, baseDir: String, table: String,
      buckets: Int): Option[DataFrame] = {
    if (!spark.catalog.tableExists(table)) {
      val dir = path(spark, baseDir, table)
      if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir))
        return None
      val ddl = spark.read.parquet(dir.toString).schema.toDDL
      val bucketing =
        if (buckets > 0) s" CLUSTERED BY (pk) SORTED BY (pk) INTO $buckets BUCKETS" else ""
      spark.sql(s"CREATE TABLE IF NOT EXISTS $table ($ddl) USING parquet$bucketing " +
        s"LOCATION '${dir.toString.replace("'", "\\'")}'")
    }
    Some(spark.table(table))
  }

  /** A version a cursor points at: [[resolve]], failing loudly when its
    * files are gone.
    */
  def committed(spark: SparkSession, baseDir: String, table: String,
      buckets: Int): DataFrame =
    resolve(spark, baseDir, table, buckets).getOrElse(throw new IllegalStateException(
      s"committed version $table is missing from ${path(spark, baseDir, table)}"))

  /** Apply a collapsed batch against a bucketed snapshot; the resulting
    * plan shuffles only the batch side.
    */
  def applyToTable(spark: SparkSession, baseDir: String, table: String, buckets: Int,
      collapsed: DataFrame, fieldCols: Seq[String]): DataFrame =
    ChangeLoader.applyBatch(committed(spark, baseDir, table, buckets), collapsed, fieldCols)
}
