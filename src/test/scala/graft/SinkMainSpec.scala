package graft

import java.nio.file.Files

import graft.cdc.MismatchMode
import graft.SinkMain.SinkConfig

/** SURVEY §2 #325: the runnable sink parity main — arg-parse + dispatch
  * against `cmd/substreams-sink-clickhouse/run.go`'s flag surface, plus a
  * real one-shot catch-up run through the existing facade.
  */
class SinkMainSpec extends SparkSpecBase {

  private val base = Seq("run", "/tmp/t", "/root/testdata/sf0.001", "hash_a", "mod")

  test("parse: defaults mirror run.go (flush 1000, mismatch error, undo 12)") {
    val c = SinkMain.parse(base).toOption.get
    assert(c == SinkConfig("/tmp/t", "/root/testdata/sf0.001", "hash_a", "mod"))
    assert(c.flushInterval == 1000L && c.mismatchMode == MismatchMode.Error &&
      c.undoBufferSize == 12)
  }

  test("parse: both flag spellings and both value forms; block range") {
    val c1 = SinkMain.parse(base ++ Seq("100:2000",
      "--flush-interval", "50", "--on-module-hash-mistmatch=warn",
      "--undo-buffer-size=3")).toOption.get
    assert(c1.startStop.contains((100L, 2000L)))
    assert(c1.flushInterval == 50L && c1.mismatchMode == MismatchMode.Warn &&
      c1.undoBufferSize == 3)
    // the corrected spelling works too
    val c2 = SinkMain.parse(base :+ "--on-module-hash-mismatch=ignore").toOption.get
    assert(c2.mismatchMode == MismatchMode.Ignore)
  }

  test("parse: rejects bad arity, unknown flags, bad modes, bad numbers") {
    assert(SinkMain.parse(Seq("run", "a", "b", "c")).isLeft) // 3 positionals
    assert(SinkMain.parse(base :+ "extra" :+ "more").isLeft) // 6 positionals
    assert(SinkMain.parse(Seq("serve") ++ base.tail).isLeft) // not `run`
    assert(SinkMain.parse(base :+ "--bogus=1").isLeft)
    assert(SinkMain.parse(base :+ "--on-module-hash-mistmatch=abort").isLeft)
    assert(SinkMain.parse(base :+ "--flush-interval=soon").isLeft)
    assert(SinkMain.parse(base ++ Seq("10:x")).isLeft)
    assert(SinkMain.parse(base :+ "--undo-buffer-size").isLeft) // no value
  }

  test("wire + run: one catch-up pass lands the cursor at head − undo") {
    val dir = Files.createTempDirectory("sinkmain").toString
    val cfg = SinkConfig(dir, sfDir, "hash_run", "mod",
      flushInterval = 200L, undoBufferSize = 10)
    val w = SinkMain.wire(spark, cfg)
    assert(w.fields == Seq("amount", "kval", "note")) // schema introspection
    assert(w.policy.modulo == 200L)
    val head = graft.sources.Changes(spark, sfDir)
      .agg(org.apache.spark.sql.functions.max("block")).collect()(0).getLong(0)
    val cur = SinkMain.run(spark, cfg)
    assert(cur.isDefined, "catch-up run must commit a cursor")
    // the undo buffer held back the newest 10 reversible blocks
    assert(cur.get.blockNum == head - 10)
    assert(w.sink.latestSnapshot(spark).get.count() > 0)
  }

  test("wire: mismatch modes dispatch and the resolved cursor trims the feed") {
    val dir = Files.createTempDirectory("sinkmain_mm").toString
    val cfg = SinkConfig(dir, sfDir, "hash_one", "mod", undoBufferSize = 0)
    SinkMain.run(spark, cfg)
    // r17 (ADVICE item 1): the resolved start cursor is now USED — a
    // re-run of the same module resumes from the committed cursor instead
    // of reprocessing the full feed
    assert(SinkMain.wire(spark, cfg).source.isEmpty,
      "resume from the committed cursor must trim the already-flushed feed")
    // a second module hash against the same target: error mode throws at
    // wire time (reference sinker startup); warn and ignore BOTH adopt the
    // cursor at the highest block and use it as the starting point
    // (run.go's flag doc — the pre-r17 ignore started fresh, inverted)
    val other = cfg.copy(moduleHash = "hash_two")
    intercept[IllegalStateException] { SinkMain.wire(spark, other) }
    assert(SinkMain.wire(spark,
      other.copy(mismatchMode = MismatchMode.Ignore)).source.isEmpty,
      "ignore must adopt the foreign cursor as the starting point")
    assert(SinkMain.wire(spark,
      other.copy(mismatchMode = MismatchMode.Warn)).source.isEmpty,
      "warn must adopt the foreign cursor as the starting point")
  }

  test("run: a second pass over a grown feed flushes every new block") {
    import org.apache.spark.sql.functions.col
    val feed = Files.createTempDirectory("sinkmain_feed").toString
    val events = graft.sources.Tables(spark, sfDir, "events")
    events.filter(col("event_id") <= 500).write.parquet(s"$feed/events.parquet")
    val dir = Files.createTempDirectory("sinkmain_twice").toString
    val cfg = SinkConfig(dir, feed, "hash_twice", "mod", flushInterval = 200L,
      undoBufferSize = 0)
    SinkMain.run(spark, cfg)
    events.filter(col("event_id") > 500).write.mode("append").parquet(s"$feed/events.parquet")
    val cur = SinkMain.run(spark, cfg)
    val all = graft.sources.Changes(spark, feed)
    assert(cur.map(_.blockNum).contains(
      all.agg(org.apache.spark.sql.functions.max("block")).collect()(0).getLong(0)))
    val fields = Seq("amount", "kval", "note")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      all.select("pk", fields: _*).schema)
    val exp = graft.cdc.ChangeLoader.applyBatch(empty,
      graft.cdc.ChangeLoader.collapse(all, fields), fields).collect().map(_.toSeq).toSet
    val got = SinkMain.wire(spark, cfg).sink.latestSnapshot(spark).get
      .collect().map(_.toSeq).toSet
    assert(got == exp)
  }
}
