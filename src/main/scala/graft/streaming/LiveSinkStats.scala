package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Live (in-process) sink counters + periodic progress emitter — the
  * reference's operational metrics surface while a sink runs: the counter
  * set (`/root/reference/sinker/metrics.go:13-15` — flush count, flushed
  * entries, flush duration) and the stats loop
  * (`/root/reference/sinker/stats.go:38-70` — a ticker that logs the
  * sliding-window average flush rate, flushed entries, and last block).
  *
  * [[SinkStats]] is the durable per-flush JSON log (queryable after the
  * fact); this class is the LIVE view — counters update synchronously from
  * the flush path and a daemon ticker emits [[LiveSinkStats.Progress]] rows
  * to a callback (log line by default, capturable by specs/monitoring).
  */
final class LiveSinkStats(val moduleHash: String) {

  // The three reference counters (metrics.go:13-15).
  private val flushCount = new AtomicLong(0)
  private val flushedEntries = new AtomicLong(0)
  private val flushDurationNanos = new AtomicLong(0)
  // time per flush phase ([[LiveSinkStats.Phases]]), in nanoseconds
  private val phaseNanos = LiveSinkStats.Phases.map(_ -> new AtomicLong(0)).toMap
  // stats.go:30 starts from an unset block ref; -1 plays that role.
  @volatile private var lastBlockNum: Long = -1L
  @volatile private var closed = false
  @volatile private var started = false

  /** Record one completed flush — called from the sink's flush path the way
    * the reference increments FlushCount / FlushedEntriesCount /
    * FlushDuration after each `Flush` (`sinker/sinker.go`). `phases` maps
    * a [[LiveSinkStats.Phases]] name to its share of `durationNanos`.
    */
  def recordFlush(entries: Long, headBlock: Long, durationNanos: Long,
      phases: Map[String, Long] = Map.empty): Unit = {
    flushCount.incrementAndGet()
    flushedEntries.addAndGet(entries)
    flushDurationNanos.addAndGet(durationNanos)
    phases.foreach { case (p, n) => phaseNanos(p).addAndGet(n) }
    if (headBlock > lastBlockNum) lastBlockNum = headBlock
  }

  /** `Stats.RecordBlock` (`stats.go:34-36`): head advances even between
    * flushes (blocks seen, not yet flushed).
    */
  def recordBlock(blockNum: Long): Unit =
    if (blockNum > lastBlockNum) lastBlockNum = blockNum

  /** Raw flush-duration counter in nanoseconds — the unit the reference
    * exports (`metrics.go:15`: "time spent flushing ... (in nanoseconds)").
    */
  def flushDurationNanosTotal: Long = flushDurationNanos.get()

  /** Nanoseconds spent so far in one flush phase. */
  def phaseNanosTotal(phase: String): Long = phaseNanos(phase).get()

  def snapshot(flushRatePerSec: Double = Double.NaN): LiveSinkStats.Progress =
    LiveSinkStats.Progress(
      moduleHash = moduleHash,
      flushes = flushCount.get(),
      flushedEntries = flushedEntries.get(),
      lastBlock = lastBlockNum,
      flushDurationMs = flushDurationNanos.get() / 1000000L,
      flushRatePerSec = flushRatePerSec)

  /** Start the periodic emitter (`Stats.Start`, `stats.go:38-60`): a daemon
    * ticker that every `eachMillis` computes the average flush rate over a
    * sliding window (the reference's 30 s avg-rate counter,
    * `stats.go:26`) and hands a [[LiveSinkStats.Progress]] row to `emit`.
    * Returns a handle; closing it stops the loop. Starting after close
    * refuses, like the reference's shutter panic (`stats.go:43-45`).
    */
  def start(eachMillis: Long, windowMillis: Long = 30000L,
      emit: LiveSinkStats.Progress => Unit = LiveSinkStats.logLine): AutoCloseable = {
    require(!closed, "already shutdown, refusing to start again")
    require(!started, "stats loop already running")
    started = true
    val samples = scala.collection.mutable.ArrayDeque.empty[(Long, Long)]
    val runner = new Thread(() => {
      try while (!closed) {
        Thread.sleep(eachMillis)
        if (!closed) {
          val now = System.nanoTime()
          samples.append(now -> flushCount.get())
          while (samples.nonEmpty &&
            (now - samples.head._1) / 1000000L > windowMillis) samples.removeHead()
          val rate = samples.headOption match {
            case Some((t0, c0)) if now > t0 =>
              (flushCount.get() - c0) * 1e9 / (now - t0)
            case _ => 0.0
          }
          emit(snapshot(rate))
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-sink-stats-$moduleHash")
    runner.setDaemon(true)
    runner.start()
    () => { closed = true; runner.interrupt() }
  }
}

object LiveSinkStats {

  /** The flush phases a sink times: the micro-batch's head aggregate, the
    * collapse+apply+write of the version, the stats entry and the cursor
    * commit.
    */
  val Phases: Seq[String] = Seq("head", "write", "stats", "commit")

  /** One emitted progress row — the fields of the reference's periodic log
    * line (`stats.go:65-69`: db_flush_rate, flushed_entries, last_block)
    * plus the flush-duration counter.
    */
  final case class Progress(
      moduleHash: String,
      flushes: Long,
      flushedEntries: Long,
      lastBlock: Long,
      flushDurationMs: Long,
      flushRatePerSec: Double
  ) {
    override def toString: String = {
      val blk = if (lastBlock < 0) "<Unset>" else s"#$lastBlock"
      f"sink stats module=$moduleHash db_flush_rate=$flushRatePerSec%.2f/s " +
        s"flushes=$flushes flushed_entries=$flushedEntries last_block=$blk " +
        s"flush_duration_ms=$flushDurationMs"
    }
  }

  private def logLine(p: Progress): Unit = Console.err.println(p.toString)

  // Global per-module registry, like the reference's process-wide dmetrics
  // set (metrics.go:11): sinks record without explicit wiring and monitors
  // attach by module hash.
  private val registry = new ConcurrentHashMap[String, LiveSinkStats]()

  def of(moduleHash: String): LiveSinkStats =
    registry.computeIfAbsent(moduleHash, new LiveSinkStats(_))

  /** Drop a module's counters (tests / sink teardown). */
  def reset(moduleHash: String): Unit = { registry.remove(moduleHash); () }

  /** All registered module stats, ordered by module hash (stable scrapes). */
  def modules(): Seq[LiveSinkStats] = {
    import scala.jdk.CollectionConverters._
    registry.values().asScala.toSeq.sortBy(_.moduleHash)
  }

  // The reference's three registered metrics (`sinker/metrics.go:13-15`),
  // same names / types / help text, keyed here by a `module` label since one
  // JVM may run several sinks where the reference process runs one.
  private val MetricFamilies: Seq[(String, String, String, LiveSinkStats => Long)] = Seq(
    ("substreams_sink_clickhouse_store_flush_count", "counter",
      "The amount of flush that happened so far", _.snapshot().flushes),
    ("substreams_sink_clickhouse_flushed_entries_count", "gauge",
      "The number of flushed entries so far", _.snapshot().flushedEntries),
    ("substreams_sink_clickhouse_store_flush_duration", "counter",
      "The amount of time spent flushing cache to db (in nanoseconds)",
      _.flushDurationNanosTotal))

  /** Pull/export hook: render every registered module's counters in the
    * Prometheus text exposition format (v0.0.4) — the scrapeable surface the
    * reference gets from its dmetrics registry (`sinker/metrics.go:11-15`).
    * Serve this string from any HTTP endpoint (or dump it on a timer) and an
    * unmodified reference dashboard reads it: names, types and help text
    * match the reference registration exactly.
    */
  def scrape(): String = {
    val mods = modules()
    val sb = new StringBuilder
    MetricFamilies.foreach { case (name, kind, help, value) =>
      sb.append(s"# HELP $name $help\n")
      sb.append(s"# TYPE $name $kind\n")
      mods.foreach { m =>
        val label = escapeLabel(m.moduleHash)
        sb.append(s"""$name{module="$label"} ${value(m)}""").append('\n')
      }
    }
    // graft's own family, after the reference's: per-phase flush time
    val phase = "graft_sink_flush_phase_seconds_total"
    sb.append(s"# HELP $phase Time spent in each flush phase " +
      "(head aggregate, collapse+apply+write, stats entry, cursor commit)\n")
    sb.append(s"# TYPE $phase counter\n")
    mods.foreach { m =>
      val label = escapeLabel(m.moduleHash)
      Phases.foreach { p =>
        sb.append(s"""$phase{module="$label",phase="$p"} ${m.phaseNanosTotal(p) / 1e9}""")
          .append('\n')
      }
    }
    sb.toString
  }

  // exposition-format label escaping: \ " and newline must be escaped or a
  // scraper rejects the whole payload (module hashes are arbitrary strings)
  private def escapeLabel(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** Bridge to Spark's own monitoring bus: a [[org.apache.spark.sql.streaming.StreamingQueryListener]]
    * that emits a fresh counter snapshot after every micro-batch of the
    * module's sink query — the event-driven alternative to the [[LiveSinkStats#start]]
    * ticker (reference `stats.go:38-60`), with zero extra threads. Register
    * with `spark.streams.addListener(...)`; pair with [[scrape]] for pull.
    *
    * The bus is session-global, so the listener must pick out ITS query:
    * `queryName` filters progress events by `StreamingQuery.name` — exact,
    * or the name plus a `-nonce` suffix ([[ChangeStreamSink]] names its
    * queries `moduleHash-<nonce>` so restarts never collide with a
    * still-active prior query). `None` emits on every query's progress —
    * only correct in single-query sessions.
    */
  def listener(moduleHash: String,
      emit: Progress => Unit = logLine,
      queryName: Option[String] = None): org.apache.spark.sql.streaming.StreamingQueryListener =
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(event: QueryStartedEvent): Unit = ()
      override def onQueryProgress(event: QueryProgressEvent): Unit = {
        val n = event.progress.name
        // exact name, or name + "-<8-hex nonce>" — the suffix must be the
        // sink's nonce SHAPE, so module "mod" can never cross-match
        // "mod-eu-<nonce>" of an unrelated module whose hash it prefixes
        def nonceMatch(q: String): Boolean =
          n != null && n.length == q.length + 9 && n.startsWith(q + "-") &&
            n.substring(q.length + 1).forall(c =>
              (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f'))
        if (queryName.forall(q => n == q || nonceMatch(q)))
          emit(of(moduleHash).snapshot())
      }
      override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    }
}
