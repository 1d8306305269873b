package graftbench

import graft.cdc.{CursorStore, MultiTable, ProtoWire}
import graft.sources.ProtoChanges
import graft.streaming.{ChangeStreamSink, FlushPolicy, LiveSinkStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The sink workloads. Both drive the public path a sinker takes:
  * encoded `(block, payload)` rows → `ProtoChanges.decode` →
  * `MultiTable.forTable` (typing through `TypeNormalizer`) →
  * `ChangeStreamSink.processBatch` under the reference `FlushPolicy` →
  * `CursorStore` commit. One closed-loop client: the next batch is sent
  * only after the previous `processBatch` returned.
  */
object SinkRun {

  /** sink_backfill feed: Zipf pks over a large key space, 10–30 changes a
    * block, one flush unit (1000 blocks, ~20k changes) per processBatch.
    */
  val BackfillKeys = 1000000
  val BackfillChanges = (10, 31)
  val DeleteShare = 0.05
  /** Nominal seconds of one backfill flush unit and of one live block with
    * its read, at local[2] on a 4-core box (sizes a run's operation count).
    */
  val NominalUnitSeconds = 4.0
  val NominalBlockSeconds = 3.3
  /** Blocks of the throwaway sink each set-up repetition flushes. */
  val WarmBlocks = 100

  /** sink_live: 10k pks preloaded below the live edge, then 3–7 changes a
    * block over 12k Zipf-ranked keys (ranks above 10k insert new pks).
    */
  val LiveHead = 1000L
  val PreloadPerBlock = 10
  val LiveKeys = 12000
  val LiveChanges = (3, 8)

  /** One sink under test: a fresh base dir and module hash per run, as
    * `LiveSinkStats` counters are process-global. Every batch the benchmark
    * sends spans one flush unit, flushed when it holds a change.
    */
  final class Target(ctx: Ctx, tag: String, policy: FlushPolicy) {
    val moduleHash = s"perfbench-$tag-${java.util.UUID.randomUUID()}"
    val baseDir = s"${ctx.workDir}/sinks/$tag"
    val sink = new ChangeStreamSink(baseDir, moduleHash, SyncedTable.fields,
      policy = Some(policy))
    var flushes = 0L
    var entries = 0L
    var lastBlock = -1L
    var lastBatch = -1L
    /** Every payload sent, for the direct decode probe. */
    val payloads = mutable.ArrayBuffer.empty[Array[Byte]]

    def send(rows: Seq[(Long, Array[Byte])], batchId: Long, changes: Long): Unit = {
      payloads ++= rows.map(_._2)
      sink.processBatch(routed(ctx, rows), batchId)
      if (changes > 0) {
        flushes += 1
        entries += changes
        lastBlock = rows.map(_._1).max
        lastBatch = batchId
      }
    }
  }

  def routed(ctx: Ctx, rows: Seq[(Long, Array[Byte])]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    MultiTable.forTable(ProtoChanges.decode(rows.toDF("block", "payload")),
      SyncedTable.Name, SyncedTable.schema)
  }

  private final case class Op(trace: String, startMs: Double, endMs: Double,
      changes: Long) {
    def ms: Double = endMs - startMs
  }

  /** The measured operations of a run and what the reader saw. */
  private final class Run(val gen: FeedGen, val target: Target, val whBefore: Long) {
    val ops = mutable.ArrayBuffer.empty[Op]
    /** Closed-loop time of each operation: encode, flush and what follows
      * it (the live read), one entry per element of `ops`.
      */
    val cycleMs = mutable.ArrayBuffer.empty[Double]
    val resolveMs = mutable.ArrayBuffer.empty[Double]
    val execMs = mutable.ArrayBuffer.empty[Double]
    var firstFeed = Seq.empty[(Long, Array[Byte])]
    var startMs = 0.0
    var endMs = 0.0
  }

  /** Send `count` batches, each after the previous returned: `next(i)`
    * encodes batch i, `after(i)` runs once its window is closed.
    */
  private def loop(ctx: Ctx, run: Run, count: Int, firstBatchId: Long)(
      next: Long => (Seq[(Long, Array[Byte])], Long))(after: Long => Unit): Unit = {
    run.startMs = ctx.tracer.nowMs
    (0L until count).foreach { i =>
      val c0 = ctx.tracer.nowMs
      val (rows, changes) = next(i)
      if (i == 0) run.firstFeed = rows
      val trace = s"flush-$i"
      val t0 = ctx.tracer.nowMs
      ctx.attempt(trace) {
        ctx.tracer.span("flush", trace)(run.target.send(rows, firstBatchId + i, changes))
      }
      run.ops += Op(trace, t0, ctx.tracer.nowMs, changes)
      run.gen.closeWindow()
      after(i)
      run.cycleMs += ctx.tracer.nowMs - c0
    }
    run.endMs = ctx.tracer.nowMs
  }

  private def encodeBlocks(gen: FeedGen, from: Long, n: Long): (Seq[(Long, Array[Byte])], Long) = {
    val blocks = (from until from + n).map { b =>
      b -> gen.block(gen.nextInt(BackfillChanges._1, BackfillChanges._2))
    }
    (blocks.map { case (b, (_, p)) => b -> p }, blocks.map(_._2._1.toLong).sum)
  }

  def backfill(ctx: Ctx): Outcome = {
    val policy = FlushPolicy()
    val unit = policy.modulo
    val setup = (0 until Main.SetupReps).map { rep =>
      Stats.timeMs {
        val g = new FeedGen(ctx.seed * 1000003L + rep + 1, BackfillKeys, DeleteShare)
        val (rows, changes) = encodeBlocks(g, 0, WarmBlocks)
        new Target(ctx, s"warm$rep", policy).send(rows, 0, changes)
      }._2
    }
    val run = new Run(new FeedGen(ctx.seed, BackfillKeys, DeleteShare),
      new Target(ctx, "backfill", policy), Stats.du(s"${ctx.workDir}/warehouse"))
    loop(ctx, run, ctx.opCount(NominalUnitSeconds, 3), 0)(
      i => encodeBlocks(run.gen, i * unit, unit))(_ => ())
    finish(ctx, run, _.changes.toDouble, setup)
  }

  def live(ctx: Ctx): Outcome = {
    val policy = FlushPolicy(headBlock = LiveHead)
    var prepared: Option[Run] = None
    val setup = (0 until Main.SetupReps).map { rep =>
      Stats.timeMs {
        val whBefore = Stats.du(s"${ctx.workDir}/warehouse")
        val g = new FeedGen(ctx.seed, LiveKeys, DeleteShare)
        val t = new Target(ctx, s"live$rep", policy)
        val rows = (0L until LiveHead).map { b =>
          b -> g.blockOf((1 to PreloadPerBlock).map(k => g.pkOf(b * PreloadPerBlock + k)))
        }
        t.send(rows.map { case (b, (_, p)) => b -> p }, 0, rows.map(_._2._1.toLong).sum)
        g.closeWindow()
        prepared = Some(new Run(g, t, whBefore))
      }._2
    }
    val run = prepared.get
    val hotPk = run.gen.pkOf(1)
    loop(ctx, run, ctx.opCount(NominalBlockSeconds, 3), 1) { i =>
      val (n, p) = run.gen.block(run.gen.nextInt(LiveChanges._1, LiveChanges._2))
      (Seq((LiveHead + i) -> p), n.toLong)
    }(i => read(ctx, run, hotPk, s"read-$i"))
    finish(ctx, run, _ => 1.0, setup)
  }

  /** End-to-end metrics, the final checks and, when traced, the per-layer
    * metrics. Throughput is the median over the loop's operations of
    * `work(op)` units per second of the operation's closed-loop cycle: a
    * median, so one operation slowed by a neighbour on a shared host, or the
    * first one running cold, does not move it.
    */
  private def finish(ctx: Ctx, run: Run, work: Op => Double, setup: Seq[Double]): Outcome = {
    val rates = run.ops.zip(run.cycleMs).map { case (o, c) => work(o) / (c / 1000.0) }
    val e2e = Map(
      "throughput" -> Stats.median(rates.toSeq),
      "latency_p50_ms" -> Stats.median(run.ops.map(_.ms).toSeq),
      "setup_s" -> Stats.median(setup) / 1000.0)
    finalChecks(ctx, run)
    val layers = if (ctx.tracer.enabled) sinkLayers(ctx, run) else Map.empty[String, Double]
    val reads = run.resolveMs.zip(run.execMs).map { case (a, b) => a + b }.toList
    Outcome(e2e, layers, Map(
      "flushes" -> run.ops.zip(run.cycleMs).map { case (o, c) =>
        Map("trace" -> o.trace, "ms" -> o.ms, "cycle_ms" -> c, "changes" -> o.changes)
      }.toList,
      "n_flushes" -> run.ops.size,
      "read_ms" -> reads,
      "read_p50_ms" -> (if (reads.isEmpty) None else Some(Stats.median(reads))),
      "store_bytes" -> storeBytes(ctx, run),
      "setup_reps_ms" -> setup.toList))
  }

  /** A reader after each live flush: resolve the synced table through
    * `latestSnapshot`, then one aggregate and a lookup of the hottest pk,
    * both checked against the model.
    */
  private def read(ctx: Ctx, run: Run, hotPk: String, trace: String): Unit =
    ctx.attempt(trace) {
      val (snap, rMs) = Stats.timeMs(ctx.tracer.span("read.resolve", trace)(
        run.target.sink.latestSnapshot(ctx.spark).get))
      val ((agg, hot), eMs) = Stats.timeMs(ctx.tracer.span("read.exec", trace) {
        (snap.agg(count(lit(1)), sum("amount"), max("ts")).collect()(0),
          snap.filter(col("pk") === hotPk).collect())
      })
      run.resolveMs += rMs
      run.execMs += eMs
      val rows = run.gen.model.rows
      val typed = rows.valuesIterator.map(SyncedTable.typed).toSeq
      val wantSum = typed.map(_.amount).sum
      val gotSum = if (agg.isNullAt(1)) 0.0 else agg.getDouble(1)
      val wantHot = rows.get(hotPk).map(SyncedTable.typed)
      val gotHot = hot.headOption.map(toTyped)
      ctx.check(s"$trace count", agg.getLong(0) == rows.size, s"${agg.getLong(0)} rows, model ${rows.size}")
      ctx.check(s"$trace sum", math.abs(gotSum - wantSum) <= 1e-6 * math.max(1.0, math.abs(wantSum)),
        s"sum(amount) $gotSum, model $wantSum")
      ctx.check(s"$trace hot pk", gotHot == wantHot, s"$gotHot, model $wantHot")
    }

  private def toTyped(r: org.apache.spark.sql.Row): SyncedTable.Typed = {
    val ts = r.getAs[java.sql.Timestamp]("ts").toInstant
    SyncedTable.Typed(r.getAs[Double]("amount"), r.getAs[Long]("qty"),
      r.getAs[String]("label"), ts.getEpochSecond * 1000000L + ts.getNano / 1000)
  }

  /** After the run: the synced table equals the ops.go model, the committed
    * cursor is the last flushed block, and the sink's own live counters
    * agree with the benchmark's counts.
    */
  private def finalChecks(ctx: Ctx, run: Run): Unit = {
    val t = run.target
    ctx.attempt("final snapshot") {
      val got = t.sink.latestSnapshot(ctx.spark).get.collect()
        .map(r => r.getAs[String]("pk") -> toTyped(r)).toMap
      val want = run.gen.model.rows.map { case (pk, f) => pk -> SyncedTable.typed(f) }.toMap
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val wrong = want.keySet.intersect(got.keySet).filter(k => got(k) != want(k))
      ctx.check("final snapshot equals the ops.go model",
        missing.isEmpty && extra.isEmpty && wrong.isEmpty,
        s"${missing.size} missing, ${extra.size} extra, ${wrong.size} differ; e.g. " +
          wrong.take(2).map(k => s"$k: ${got(k)} vs ${want(k)}").mkString("; "))
    }
    ctx.attempt("cursor") {
      val c = new CursorStore(s"${t.baseDir}/cursor", ctx.spark).read(t.moduleHash)
      ctx.check("committed cursor is the last flushed block",
        c.exists(_.blockNum == t.lastBlock), s"$c, last block ${t.lastBlock}")
    }
    val p = LiveSinkStats.of(t.moduleHash).snapshot()
    ctx.check("LiveSinkStats agrees with the benchmark",
      p.flushes == t.flushes && p.flushedEntries == t.entries && p.lastBlock == t.lastBlock,
      s"flushes ${p.flushes}/${t.flushes}, entries ${p.flushedEntries}/${t.entries}, " +
        s"last block ${p.lastBlock}/${t.lastBlock}")
  }

  /** Bytes on disk under the sink's base dir plus the tables it wrote. */
  private def storeBytes(ctx: Ctx, run: Run): Long =
    Stats.du(run.target.baseDir) + Stats.du(s"${ctx.workDir}/warehouse") - run.whBefore

  /** `ChangeStreamSink` numbers a unit's version `batchId * 4096 + index`. */
  private val UnitStride = 4096L

  /** Graft source files → the sink layer a job belongs to. */
  private val LayerOf = Map(
    "BucketedSnapshot" -> "snapshot", "CursorStore" -> "cursor",
    "SinkStats" -> "stats", "ChangeStreamSink" -> "head")

  private def sinkLayers(ctx: Ctx, run: Run): Map[String, Double] = {
    val spark = ctx.spark
    val t = run.target
    // direct layer probes at the final log size
    val store = new CursorStore(s"${t.baseDir}/cursor", spark)
    val readMs = (1 to 5).map(_ => Stats.timeMs(store.readWithBatch(t.moduleHash))._2)
    val committedMs = (1 to 5).map(_ => Stats.timeMs(store.committed(t.moduleHash, t.lastBatch * UnitStride))._2)
    val decodeNs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = t.payloads.map(p => ProtoWire.decodeDatabaseChanges(p).size).sum
      (System.nanoTime() - t0).toDouble / math.max(1, n)
    }
    val routeS = (1 to 3).map { _ =>
      Stats.timeMs(routed(ctx, run.firstFeed).write.format("noop").mode("overwrite").save())._2 / 1000.0
    }
    ctx.drain()
    val perFlush = run.ops.toSeq.map { o =>
      val jobs = ctx.jobsIn(o.startMs, o.endMs)
      def of(layer: String) = jobs.filter(j => LayerOf.getOrElse(j.source, "other") == layer)
      def ms(js: Seq[JobRec]) = Intervals.covered(js.map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)
      Map(
        "snapshot.write_ms" -> ms(of("snapshot")),
        "snapshot.jobs" -> of("snapshot").size.toDouble,
        "snapshot.bytes_written" -> of("snapshot").map(_.bytesWritten).sum.toDouble,
        "cursor.jobs" -> of("cursor").size.toDouble,
        "cursor.ms" -> ms(of("cursor")),
        "stats.ms" -> ms(of("stats")),
        "head.ms" -> ms(of("head")),
        "flush.jobs" -> jobs.size.toDouble,
        "flush.driver_ms" -> (o.ms - ms(jobs)))
    }
    val window = ctx.jobsIn(run.startMs, run.endMs)
    val n = math.max(1, run.ops.size).toDouble
    val fromFlushes = perFlush.headOption.map(_.keys).getOrElse(Nil)
      .map(k => k -> Stats.median(perFlush.map(_(k)))).toMap
    Main.NoLayers ++ fromFlushes ++ Map(
      "decode.ns_per_change" -> Stats.median(decodeNs),
      "decode.route_s" -> Stats.median(routeS),
      "cursor.log_files" -> Stats.partFiles(s"${t.baseDir}/cursor").toDouble,
      "cursor.read_ms" -> Stats.median(readMs),
      "cursor.committed_ms" -> Stats.median(committedMs),
      "stats.log_files" -> Stats.partFiles(s"${t.baseDir}/stats").toDouble,
      "read.resolve_ms" -> (if (run.resolveMs.isEmpty) 0.0 else Stats.median(run.resolveMs.toSeq)),
      "read.exec_ms" -> (if (run.execMs.isEmpty) 0.0 else Stats.median(run.execMs.toSeq)),
      "store.bytes_per_change" -> storeBytes(ctx, run).toDouble / math.max(1L, t.entries),
      "spark.jobs" -> window.size / n,
      "spark.tasks" -> window.map(_.tasks).sum / n,
      "spark.executor_cpu_s" -> window.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> window.map(_.gcMs).sum / 1000.0 / n)
  }
}
