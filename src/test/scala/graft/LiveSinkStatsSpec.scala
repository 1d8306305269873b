package graft

import graft.sources.Changes
import graft.streaming.{ChangeStreamSink, LiveSinkStats}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

/** The reference's live operational-metrics surface
  * (`sinker/metrics.go:13-15` counters + `sinker/stats.go:38-70` periodic
  * rate log): counters advance from the flush path and a ticker emits
  * progress rows while a sink runs.
  */
class LiveSinkStatsSpec extends SparkSpecBase {

  test("ticker emits progress rows with sliding-window flush rate") {
    LiveSinkStats.reset("mod_live_t")
    val stats = LiveSinkStats.of("mod_live_t")
    val seen = new ConcurrentLinkedQueue[LiveSinkStats.Progress]()
    // unset head block renders like the reference's <Unset> ref (stats.go:80)
    assert(stats.snapshot().toString.contains("last_block=<Unset>"))
    val h = stats.start(eachMillis = 25, windowMillis = 5000, emit = seen.add(_))
    (1 to 5).foreach { i =>
      stats.recordFlush(entries = 10, headBlock = i * 100L, durationNanos = 2000000L)
      Thread.sleep(30)
    }
    Thread.sleep(60)
    h.close()
    val rows = seen.toArray(Array.empty[LiveSinkStats.Progress])
    assert(rows.nonEmpty, "ticker emitted no progress rows")
    val last = rows.last
    assert(last.flushes == 5 && last.flushedEntries == 50 && last.lastBlock == 500)
    assert(last.flushDurationMs == 10) // 5 × 2 ms
    assert(rows.exists(_.flushRatePerSec > 0), "rate never computed > 0")
    // emission stops after close
    val n = seen.size
    Thread.sleep(80)
    assert(seen.size == n, "ticker kept emitting after close")
    // restart-after-shutdown refuses, like the reference's shutter panic
    intercept[IllegalArgumentException](stats.start(25))
    LiveSinkStats.reset("mod_live_t")
  }

  test("a running ChangeStreamSink feeds the live counters; monitor captures rows") {
    LiveSinkStats.reset("mod_live_s")
    val dir = Files.createTempDirectory("livesink").toString
    val sink = new ChangeStreamSink(dir, "mod_live_s", Seq("amount", "kval", "note"))
    val seen = new ConcurrentLinkedQueue[LiveSinkStats.Progress]()
    val h = LiveSinkStats.of("mod_live_s").start(eachMillis = 20, emit = seen.add(_))
    val ch = Changes(spark, sfDir)
    sink.processBatch(ch.filter(col("block") <= 500), 0)
    sink.processBatch(ch.filter(col("block") > 500), 1)
    // let the ticker observe the final counter state
    Thread.sleep(120)
    h.close()
    val snap = LiveSinkStats.of("mod_live_s").snapshot()
    val expectedHead = ch.agg(max("block")).collect()(0).getLong(0)
    assert(snap.flushes == 2)
    assert(snap.lastBlock == expectedHead)
    assert(snap.flushedEntries == ch.count())
    val rows = seen.toArray(Array.empty[LiveSinkStats.Progress])
    assert(rows.nonEmpty && rows.last.flushes == 2,
      "monitor did not capture the sink's progress")
    LiveSinkStats.reset("mod_live_s")
  }

  test("prometheus scrape exports the reference counter set from a running sink") {
    LiveSinkStats.reset("mod_live_p")
    val dir = Files.createTempDirectory("livescrape").toString
    val sink = new ChangeStreamSink(dir, "mod_live_p", Seq("amount", "kval", "note"))
    val ch = Changes(spark, sfDir)
    sink.processBatch(ch.filter(col("block") <= 500), 0)
    sink.processBatch(ch.filter(col("block") > 500), 1)
    val text = LiveSinkStats.scrape()
    // names / types / help exactly as registered in sinker/metrics.go:13-15
    assert(text.contains(
      "# TYPE substreams_sink_clickhouse_store_flush_count counter"))
    assert(text.contains(
      "# TYPE substreams_sink_clickhouse_flushed_entries_count gauge"))
    assert(text.contains(
      "# TYPE substreams_sink_clickhouse_store_flush_duration counter"))
    assert(text.contains(
      "# HELP substreams_sink_clickhouse_store_flush_count The amount of flush that happened so far"))
    assert(text.contains(
      """substreams_sink_clickhouse_store_flush_count{module="mod_live_p"} 2"""))
    assert(text.contains(
      s"""substreams_sink_clickhouse_flushed_entries_count{module="mod_live_p"} ${ch.count()}"""))
    val dur = text.linesIterator.find(
      _.startsWith("""substreams_sink_clickhouse_store_flush_duration{module="mod_live_p"}"""))
    assert(dur.exists(_.split(' ').last.toLong > 0), s"duration sample missing/zero: $dur")
    LiveSinkStats.reset("mod_live_p")
  }

  test("per-phase flush timings: every phase scraped, the phases within the flush time") {
    LiveSinkStats.reset("mod_live_ph")
    val dir = Files.createTempDirectory("livephase").toString
    val sink = new ChangeStreamSink(dir, "mod_live_ph", Seq("amount", "kval", "note"))
    val ch = Changes(spark, sfDir)
    sink.processBatch(ch.filter(col("block") <= 500), 0)
    sink.processBatch(ch.filter(col("block") > 500), 1)
    val m = LiveSinkStats.of("mod_live_ph")
    val phases = LiveSinkStats.Phases.map(p => p -> m.phaseNanosTotal(p))
    assert(phases.forall(_._2 > 0), s"a phase recorded no time: $phases")
    assert(phases.map(_._2).sum <= m.flushDurationNanosTotal,
      s"phases $phases exceed the flush time ${m.flushDurationNanosTotal}")
    val text = LiveSinkStats.scrape()
    assert(text.contains("# TYPE graft_sink_flush_phase_seconds_total counter"))
    LiveSinkStats.Phases.foreach { p =>
      val line = text.linesIterator.find(_.startsWith(
        s"""graft_sink_flush_phase_seconds_total{module="mod_live_ph",phase="$p"} """))
      assert(line.exists(_.split(' ').last.toDouble > 0), s"phase $p: $line")
    }
    // the reference's own families are still there, unchanged
    assert(text.contains(
      """substreams_sink_clickhouse_store_flush_count{module="mod_live_ph"} 2"""))
    LiveSinkStats.reset("mod_live_ph")
  }

  test("HTTP metrics endpoint serves the scrape — --metrics-listen-addr parity") {
    LiveSinkStats.reset("mod_live_h")
    val dir = Files.createTempDirectory("livehttp").toString
    val sink = new ChangeStreamSink(dir, "mod_live_h", Seq("amount", "kval", "note"))
    val ch = Changes(spark, sfDir)
    sink.processBatch(ch.filter(col("block") <= 500), 0)
    sink.processBatch(ch.filter(col("block") > 500), 1)
    val srv = graft.streaming.MetricsHttpServer.start("localhost:0") // ephemeral port
    try {
      val conn = new java.net.URL(s"http://localhost:${srv.port}/metrics")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("text/plain"))
      val text = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      conn.disconnect()
      // all three reference metric families present, with this module sampled
      Seq("substreams_sink_clickhouse_store_flush_count",
          "substreams_sink_clickhouse_flushed_entries_count",
          "substreams_sink_clickhouse_store_flush_duration").foreach { fam =>
        assert(text.contains(s"# TYPE $fam"), s"family $fam missing")
      }
      assert(text.contains(
        """substreams_sink_clickhouse_store_flush_count{module="mod_live_h"} 2"""))
      // exporter surface: anything but /metrics is 404 (the JDK server
      // prefix-matches contexts, so the handler must re-check the path)
      val bad = new java.net.URL(s"http://localhost:${srv.port}/metricsfoo")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(bad.getResponseCode == 404)
      bad.disconnect()
    } finally srv.stop()
    LiveSinkStats.reset("mod_live_h")
  }

  test("StreamingQueryListener bridge emits snapshots per micro-batch of a real stream") {
    implicit val s = spark
    import s.implicits._
    LiveSinkStats.reset("mod_live_l")
    val dir = Files.createTempDirectory("livelisten").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.ChangeRow]
    val ch = Changes(spark, sfDir).limit(200).collect().toSeq.map {
      case org.apache.spark.sql.Row(block: Long, pk: Long, op: String, amount, kval, note) =>
        graft.streaming.ChangeRow(block, pk, op,
          Option(amount).map(_.asInstanceOf[Double]),
          Option(kval).map(_.asInstanceOf[Long]),
          Option(note).map(_.asInstanceOf[String]))
    }
    in.addData(ch)
    val seen = new ConcurrentLinkedQueue[LiveSinkStats.Progress]()
    val other = new ConcurrentLinkedQueue[LiveSinkStats.Progress]()
    // sink queries are named after their module, so the filter picks this
    // query's events off the session-global bus; the decoy must stay silent
    val listener = LiveSinkStats.listener("mod_live_l", emit = seen.add(_),
      queryName = Some("mod_live_l"))
    val decoy = LiveSinkStats.listener("mod_live_l", emit = other.add(_),
      queryName = Some("some_other_module"))
    spark.streams.addListener(listener)
    spark.streams.addListener(decoy)
    try {
      val sink = new ChangeStreamSink(dir, "mod_live_l", Seq("amount", "kval", "note"))
      val q = sink.start(in.toDF(), s"$dir/ckpt",
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination(60000)
      // listener events are delivered async on the bus thread
      val deadline = System.nanoTime() + 10000000000L
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      spark.streams.removeListener(listener)
      spark.streams.removeListener(decoy)
    }
    val rows = seen.toArray(Array.empty[LiveSinkStats.Progress])
    assert(rows.nonEmpty, "listener bridge emitted nothing for a completed query")
    assert(rows.last.flushes >= 1 && rows.last.flushedEntries == 200,
      s"unexpected final snapshot: ${rows.last}")
    assert(other.isEmpty, "queryName filter leaked another query's events")
    LiveSinkStats.reset("mod_live_l")
  }
}
