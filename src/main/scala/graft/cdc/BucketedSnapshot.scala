package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation,
  InMemoryFileIndex, InsertIntoHadoopFsRelationCommand, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types.{DataType, StructType}

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

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
  * A sink version is one directory under the sink's own base dir, next to
  * its cursor log, and nothing else — no session-catalog table:
  *
  * {{{
  *   <baseDir>/tables/<escaped key>/<kind>/<batchId>/
  *     part-*_<bucket>.c000.snappy.parquet   one file per non-empty bucket
  *     _schema.json                          the version's schema
  * }}}
  *
  * The key is the version's cursor key, escaped as [[MetadataLog]] escapes
  * it. The bucketing is the caller's, as it was at the write. The schema is
  * written last, so it marks a finished version; the file index skips `_`
  * names, so a read lists the data files and infers nothing — an empty
  * version, which has no data file, reads back with its full schema.
  */
object BucketedSnapshot {

  private val SchemaFile = "_schema.json"

  /** Where a version's files live, qualified. */
  def path(spark: SparkSession, baseDir: String, key: String, kind: String, bid: Long): Path = {
    val p = new Path(s"$baseDir/tables/${MetadataLog.escape(key)}/$kind/$bid")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  private def bucketSpec(buckets: Int): Option[BucketSpec] =
    if (buckets > 0) Some(BucketSpec(buckets, Seq("pk"), Seq("pk"))) else None

  /** Persist a version, bucketed+sorted by pk (`buckets` 0 = plain files,
    * for the rollup states), replacing whatever the directory held.
    *
    * A bucketed write runs in [[writeTasks]] tasks, not one per bucket:
    * `coalesce` packs whole input partitions, so when `df` arrives
    * hash-partitioned by pk into `buckets` partitions (the apply join over
    * a bucketed snapshot does) each bucket still lands in one task and the
    * version keeps one file per bucket.
    */
  def write(df: DataFrame, baseDir: String, key: String, kind: String, bid: Long,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    val dir = path(spark, baseDir, key, kind, bid)
    val packed = if (buckets > 0) df.coalesce(writeTasks(df, buckets)) else df
    GraftSqlShim.ofRows(spark, InsertIntoHadoopFsRelationCommand(dir, Map.empty,
      ifPartitionNotExists = false, Nil, bucketSpec(buckets), new ParquetFileFormat, Map.empty,
      packed.queryExecution.analyzed, SaveMode.Overwrite, None, None, df.columns.toSeq))
    val out = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new Path(dir, SchemaFile), true)
    try out.write(GraftSqlShim.asNullable(df.schema).json.getBytes(UTF_8)) finally out.close()
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

  /** Whether a finished version is on disk (its schema file is). */
  def exists(spark: SparkSession, baseDir: String, key: String, kind: String, bid: Long): Boolean = {
    val schema = new Path(path(spark, baseDir, key, kind, bid), SchemaFile)
    schema.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(schema)
  }

  /** A version read back with its stored schema and the given bucketing,
    * or None when it is not on disk. Driver-side listing only: no Spark job.
    */
  def resolve(spark: SparkSession, baseDir: String, key: String, kind: String, bid: Long,
      buckets: Int): Option[DataFrame] = {
    val dir = path(spark, baseDir, key, kind, bid)
    val schema = try {
      val in = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .open(new Path(dir, SchemaFile))
      try Some(DataType.fromJson(new String(in.readAllBytes(), UTF_8)).asInstanceOf[StructType])
      finally in.close()
    } catch { case _: FileNotFoundException => None }
    schema.map { s =>
      val files = new InMemoryFileIndex(spark, Seq(dir), Map.empty, None)
      GraftSqlShim.ofRows(spark, LogicalRelation(HadoopFsRelation(files, new StructType(), s,
        bucketSpec(buckets), new ParquetFileFormat, Map.empty)(spark)))
    }
  }

  /** A version a cursor points at: [[resolve]], failing loudly when its
    * files are gone.
    */
  def committed(spark: SparkSession, baseDir: String, key: String, kind: String, bid: Long,
      buckets: Int): DataFrame =
    resolve(spark, baseDir, key, kind, bid, buckets).getOrElse(throw new IllegalStateException(
      s"committed version $kind $bid of $key is missing from ${path(spark, baseDir, key, kind, bid)}"))
}
