package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

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
  def path(spark: SparkSession, baseDir: String, table: String): Path = {
    val p = new Path(s"$baseDir/tables/$table")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** Persist a version table under `baseDir`, bucketed+sorted by pk
    * (`buckets` 0 = a plain table, for the rollup states).
    */
  def write(df: DataFrame, baseDir: String, table: String, buckets: Int): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path(df.sparkSession, baseDir, table).toString)
    (if (buckets > 0) w.bucketBy(buckets, "pk").sortBy("pk") else w).saveAsTable(table)
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
