package graft

import graft.cdc.MaterializedAgg
import graft.sources.Changes
import graft.streaming.{ChangeStreamSink, CompactionPolicy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** [[graft.cdc.MaterializedAgg]] — incremental rollup maintenance must be
  * bit-identical to a full recompute after EVERY flush, across deletes,
  * group migration, null groups/values, replay, merge-on-read delta
  * flushes, and rollback.
  */
class MaterializedAggSpec extends SparkSpecBase {

  private val fields = Seq("amount", "kval", "note")
  private val mv = MaterializedAgg.MvDef("note", "amount")

  private def batch(rows: (Long, Long, String, Option[Double], Option[Long], Option[String])*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toSeq.toDF("block", "pk", "op", "amount", "kval", "note")
  }

  private def assertMvMatches(sink: ChangeStreamSink): Unit = {
    val snap = sink.latestSnapshot(spark).get
    val exp = MaterializedAgg.recompute(snap, mv).collect().map(_.toSeq).toSet
    val got = sink.latestMv(spark).get.collect().map(_.toSeq).toSet
    assert(got == exp)
  }

  test("mv state equals recompute after every flush (edge-case batches)") {
    val dir = Files.createTempDirectory("mv_edge").toString
    val sink = new ChangeStreamSink(dir, "mod_mv", fields, mv = Some(mv))

    sink.processBatch(batch(
      (1L, 1L, "INSERT", Some(1.00), None, Some("A")),
      (2L, 2L, "INSERT", Some(2.00), None, Some("A")),
      (3L, 3L, "INSERT", Some(3.00), None, Some("B"))), 0)
    assertMvMatches(sink)
    assert(sink.latestMv(spark).get.filter(col("grp") === "A")
      .select("total").collect()(0).getDecimal(0).doubleValue() == 3.0)

    // update (partial fields: note absent → prior group retained), delete,
    // a null-VALUE insert, and a null-GROUP insert
    sink.processBatch(batch(
      (10L, 1L, "UPDATE", Some(5.00), None, None),
      (11L, 2L, "DELETE", None, None, None),
      (12L, 4L, "INSERT", None, None, Some("C")),
      (13L, 5L, "INSERT", Some(7.00), None, None)), 1)
    assertMvMatches(sink)
    // group C exists with one row but no values → reader view shows null sum
    val cRow = MaterializedAgg.view(sink.latestMv(spark).get)
      .filter(col("grp") === "C").collect()(0)
    assert(cRow.getLong(1) == 1 && cRow.isNullAt(2))

    // group migration (note changes B→C, amount retained via field merge)
    // + re-insert of a pk deleted in the PREVIOUS batch
    sink.processBatch(batch(
      (20L, 3L, "UPDATE", None, None, Some("C")),
      (21L, 2L, "INSERT", Some(9.00), None, Some("B"))), 2)
    assertMvMatches(sink)
    val after = sink.latestMv(spark).get.collect()
      .map(r => Option(r.get(0)).orNull -> (r.getLong(1), r.getDecimal(3).doubleValue())).toMap
    assert(after("C") == (2L, 3.0)) // migrated pk3 carried its 3.00
    assert(after("B") == (1L, 9.0)) // revived pk2, old B row (pk3) gone
    assert(after(null) == (1L, 7.0)) // null group is a group like any other

    // replay of a committed batch is a no-op for the rollup too
    val before = sink.latestMv(spark).get.collect().map(_.toSeq).toSet
    sink.processBatch(batch((20L, 3L, "UPDATE", None, None, Some("C"))), 2)
    assert(sink.latestMv(spark).get.collect().map(_.toSeq).toSet == before)
  }

  test("mv over the real change feed, merge-on-read delta flushes") {
    val dir = Files.createTempDirectory("mv_feed").toString
    // maxDeltas=2: batches 0,1 are DELTA flushes — the rollup must stay
    // exact even when no materialized snapshot is written
    val sink = new ChangeStreamSink(dir, "mod_mvf", fields,
      compaction = Some(CompactionPolicy(maxDeltas = 2)), mv = Some(mv))
    val ch = Changes(spark, sfDir)
    sink.processBatch(ch.filter(col("block") <= 300), 0)
    assertMvMatches(sink)
    sink.processBatch(ch.filter(col("block") > 300 && col("block") <= 700), 1)
    assertMvMatches(sink)
    sink.processBatch(ch.filter(col("block") > 700), 2)
    assertMvMatches(sink)
    // agg state is O(groups): 5 event types + nothing else
    assert(sink.latestMv(spark).get.count() <= 5)
  }

  test("rollback restores the rolled-back batch's rollup") {
    val dir = Files.createTempDirectory("mv_rb").toString
    val sink = new ChangeStreamSink(dir, "mod_mvr", fields, mv = Some(mv))
    val ch = Changes(spark, sfDir)
    sink.processBatch(ch.filter(col("block") <= 400), 0)
    val atB0 = sink.latestMv(spark).get.collect().map(_.toSeq).toSet
    sink.processBatch(ch.filter(col("block") > 400), 1)
    assert(sink.latestMv(spark).get.collect().map(_.toSeq).toSet != atB0)
    sink.rollbackTo(spark, toBatchId = 0, newBatchId = 10)
    assert(sink.latestMv(spark).get.collect().map(_.toSeq).toSet == atB0)
    assertMvMatches(sink) // still consistent with the rolled-back snapshot
  }

  test("mv end-to-end through a real writeStream") {
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("mv_e2e").toString
    val rows = Changes(spark, sfDir).collect().toSeq.map {
      case org.apache.spark.sql.Row(block: Long, pk: Long, op: String, amount, kval, note) =>
        graft.streaming.ChangeRow(block, pk, op,
          Option(amount).map(_.asInstanceOf[Double]),
          Option(kval).map(_.asInstanceOf[Long]),
          Option(note).map(_.asInstanceOf[String]))
    }
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.ChangeRow]
    in.addData(rows)
    val sink = new ChangeStreamSink(dir, "mod_mve2e", fields, mv = Some(mv))
    val q = sink.start(in.toDF(), s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    assertMvMatches(sink)
  }

  test("crash between mv write and cursor commit: replay overwrites the orphan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mv_crash").toString
    val sink = new ChangeStreamSink(dir, "mod_mvc", fields, mv = Some(mv))
    sink.processBatch(batch((1L, 1L, "INSERT", Some(1.00), None, Some("A"))), 0)
    // simulate a crash AFTER batch 1's mv table landed but BEFORE its cursor
    // committed: an orphan version with garbage content
    Seq(("GARBAGE", 99L, 99L, BigDecimal(9.99))).toDF("grp", "n_rows", "n_vals", "total")
      .write.mode("overwrite").saveAsTable(sink.mvTable(1))
    // the re-delivered micro-batch must overwrite the orphan, not skip it
    sink.processBatch(batch((2L, 2L, "INSERT", Some(2.00), None, Some("A"))), 1)
    assertMvMatches(sink)
    assert(!sink.latestMv(spark).get.collect().exists(_.getString(0) == "GARBAGE"))
  }

  test("mv_incremental query: split-fold equals direct rollup") {
    val got = run("mv_incremental").collect().map(_.toSeq)
    // direct recompute of the final replayed state (the oracle's shape)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk").orderBy(col("block").desc)
    val alive = Changes(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "DELETE")
    val exp = MaterializedAgg.recompute(alive, mv)
      .select(col("grp").as("module_hash"), col("n_rows"),
        col("total").cast("double").as("total"))
      .orderBy("module_hash").collect().map(_.toSeq)
    assert(got.toSeq == exp.toSeq)
    assert(got.nonEmpty)
  }
}
