package graftbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** What a workload hands back: end-to-end metrics (every run), per-layer
  * metrics (traced runs) and the per-operation detail for the record.
  */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    detail: Map[String, Any])

/** State shared by a run: the session, the tracer, the failure count. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val listener: Option[JobListener], val workDir: String, val dataDir: String,
    val seed: Long, val seconds: Double, val threads: Int) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what.take(400)
    System.err.println(s"[perfbench] FAILED $what".take(600))
  }

  /** One attempted operation; a throw counts as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => fail(s"$what: $e"); None }
  }

  /** One attempted correctness check. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) fail(s"$what: $detail")
  }

  /** The number of operations a run measures: `--seconds` divided by the
    * operation's nominal cost on a 4-core box, at least `min`. A fixed
    * count rather than a deadline, so two commits do the same work and a
    * slow run does not measure fewer, colder operations.
    */
  def opCount(nominalSeconds: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominalSeconds).toInt)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (listener.nonEmpty) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Jobs that started inside [lo, hi]. */
  def jobsIn(lo: Double, hi: Double): Seq[JobRec] =
    listener.map(_.jobs.filter(j => j.startMs >= lo && j.startMs <= hi)).getOrElse(Nil)
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Bytes of every regular file under `dir` (0 when absent). */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_: Path)).sum()
      finally s.close()
    }
  }

  /** Data files (`part-*`) under `dir`. */
  def partFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.getFileName.toString.startsWith("part-")).count()
      finally s.close()
    }
  }
}

/** Benchmark JVM entry point; `perfbench/run.py` launches it and prints the
  * result line. Arguments: `<workload> <seed> <seconds> <trace 0|1>
  * <workDir> <dataDir> <threads> <outJson>`.
  */
object Main {
  val SetupReps = 3

  /** Every per-layer metric, at 0: the value a layer the workload does not
    * exercise reports.
    */
  val NoLayers: Map[String, Double] = Seq(
    "decode.ns_per_change", "decode.route_s",
    "snapshot.write_ms", "snapshot.jobs", "snapshot.bytes_written",
    "cursor.jobs", "cursor.ms", "cursor.log_files", "cursor.read_ms", "cursor.committed_ms",
    "stats.ms", "stats.log_files", "head.ms", "flush.jobs", "flush.driver_ms",
    "read.resolve_ms", "read.exec_ms", "store.bytes_per_change",
    "bank.construct_s", "bank.construct_jobs", "bank.plan_s", "bank.exec_s",
    "bank.exec_jobs", "bank.tasks", "bank.shuffle_bytes", "bank.spill_bytes",
    "bank.gc_s", "bank.task_skew",
    "spark.jobs", "spark.tasks", "spark.executor_cpu_s", "spark.gc_s"
  ).map(_ -> 0.0).toMap

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, dataDir, threadsS, out) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val threads = threadsS.toInt
    val spark = GraftSession.builder(threads)
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val traced = traceS == "1"
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, new Tracer(traced), listener, workDir, dataDir,
      seedS.toLong, secondsS.toDouble, threads)
    val outcome = workload match {
      case "sink_backfill" => SinkRun.backfill(ctx)
      case "sink_live"     => SinkRun.live(ctx)
      case "bank_mix"      => BankRun.mix(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val heapMb = retainedHeapMb()
    val e2e = outcome.e2e ++ Map(
      "setup_s" -> (sessionS + outcome.e2e("setup_s")),
      "heap_retained_mb" -> heapMb)
    val record = Map(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> traced,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toList,
      "end_to_end" -> e2e,
      "per_layer" -> outcome.layers,
      "session_s" -> sessionS,
      "shape" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_task_threads" -> threads,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "spark_version" -> spark.version,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "detail" -> outcome.detail) ++ spanRecord(ctx.tracer.spans.toList,
        listener.map(_.jobs).getOrElse(Nil))
    spark.stop()
    Files.write(Paths.get(out), Json(record).getBytes(StandardCharsets.UTF_8))
  }

  /** Spans and Spark jobs for the record. A job is a child of the
    * innermost span it started in; a span's self time is its length minus
    * the part its child spans and jobs cover.
    */
  private def spanRecord(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Any] = {
    val parentOf = jobs.map { j =>
      j.id -> spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(_.ms).headOption.map(_.id).getOrElse(0)
    }.toMap
    Map(
      "spans" -> spans.map { s =>
        val kids = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)) ++
          jobs.filter(j => parentOf(j.id) == s.id).map(j => (j.startMs, j.endMs))
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "trace" -> s.trace,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "self_ms" -> (s.ms - Intervals.covered(kids, s.startMs, s.endMs)))
      },
      "jobs" -> jobs.map(j => Map(
        "id" -> j.id, "parent" -> parentOf(j.id), "source" -> j.source, "site" -> j.site,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks,
        "bytes_written" -> j.bytesWritten)))
  }

  /** Driver heap in use after full collections, in MB. */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }
}
