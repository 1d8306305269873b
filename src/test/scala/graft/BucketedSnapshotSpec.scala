package graft

import graft.cdc.{BucketedSnapshot, ChangeLoader}
import graft.sources.Changes
import org.apache.spark.sql.functions._

class BucketedSnapshotSpec extends SparkSpecBase {

  private val fields = Seq("amount", "kval", "note")

  test("bucketed snapshot join shuffles only the delta side") {
    val ch = Changes(spark, sfDir)
    val snapshot = ChangeLoader.applyBatch(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema),
      ChangeLoader.collapse(ch.filter(col("block") <= 500), fields), fields)
    val delta = ChangeLoader.collapse(ch.filter(col("block") > 500), fields)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      // Flat storage: both join inputs shuffle.
      snapshot.write.mode("overwrite").parquet(s"${System.getProperty("java.io.tmpdir")}/flat_snap")
      val flat = ChangeLoader.applyBatch(
        spark.read.parquet(s"${System.getProperty("java.io.tmpdir")}/flat_snap"), delta, fields)
      flat.count()
      val flatAudit = PlanAudit.audit(flat.queryExecution.executedPlan)

      // Bucketed storage: the snapshot scan satisfies the join distribution.
      val dir = java.nio.file.Files.createTempDirectory("snap_bucketed").toString
      BucketedSnapshot.write(snapshot, dir, "snap_bucketed", "snap", 0, buckets = 8)
      val bucketed = ChangeLoader.applyBatch(
        BucketedSnapshot.committed(spark, dir, "snap_bucketed", "snap", 0, 8), delta, fields)
      bucketed.count()
      val bucketedAudit = PlanAudit.audit(bucketed.queryExecution.executedPlan)

      assert(bucketedAudit.shuffles < flatAudit.shuffles,
        s"bucketed $bucketedAudit vs flat $flatAudit")
      // Same answer either way.
      assert(bucketed.collect().map(_.toSeq).toSet == flat.collect().map(_.toSeq).toSet)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}
