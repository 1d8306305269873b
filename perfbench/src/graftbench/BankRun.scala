package graftbench

import graft.{CacheRegistry, SparkEntry}
import graft.sources.Tables
import org.apache.spark.sql.execution.SparkPlan

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.mutable

/** bank_mix: warm queries from `SparkEntry.queries`, run one after another
  * by a single client. Each query is built (`fn(spark, dir)`), planned
  * (`queryExecution.executedPlan`) and forced by writing its result as
  * parquet; every written result is compared with the query's DuckDB
  * oracle by `perfbench/oracle.py`.
  */
object BankRun {

  /** The graph/dedup query does most of its work while the DataFrame is
    * built (eager jobs); the others are execution-bound. Four queries keep
    * a warm-up plus a measured pass within a run's time budget.
    */
  val Graph = Seq("dedup_clusters")
  val Olap = Seq("q1_agg", "q8_market_share")
  val Cdc = Seq("cdc_snapshot_apply")
  val Queries: Seq[String] = Graph ++ Olap ++ Cdc

  /** Nominal seconds of one warm pass at local[2] on a 4-core box. */
  val NominalPassSeconds = 6.5

  private final case class Q(query: String, pass: Int, startMs: Double,
      builtMs: Double, plannedMs: Double, endMs: Double, planHash: String,
      out: String) {
    def ms: Double = endMs - startMs
  }

  /** Hash of the canonicalized executed plan (expression ids numbered by
    * position) with file paths blanked, so the same plan hashes the same in
    * every run and checkout.
    */
  private def planHash(p: SparkPlan): String = {
    val norm = p.canonicalized.treeString
      .replaceAll("file:[^,\\]\\s]*", "file:")
    MessageDigest.getInstance("SHA-1").digest(norm.getBytes(StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString
  }

  def mix(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    Queries.foreach(q => require(fns.contains(q) && oracle.contains(q), s"$q has no oracle"))
    val order = new scala.util.Random(ctx.seed).shuffle(Queries)
    val done = mutable.ArrayBuffer.empty[Q]

    def pass(k: Int): Unit = order.foreach { q =>
      val trace = s"$q#$k"
      val out = s"${ctx.workDir}/bank/p$k/$q"
      val t0 = ctx.tracer.nowMs
      ctx.attempt(trace) {
        val df = ctx.tracer.span("construct", trace)(fns(q)(spark, ctx.dataDir))
        val t1 = ctx.tracer.nowMs
        val plan = ctx.tracer.span("plan", trace)(df.queryExecution.executedPlan)
        val t2 = ctx.tracer.nowMs
        ctx.tracer.span("exec", trace)(df.write.mode("overwrite").parquet(out))
        done += Q(q, k, t0, t1, t2, ctx.tracer.nowMs, planHash(plan), out)
      }
      spark.catalog.clearCache()
      CacheRegistry.release()
    }

    // set-up: resolve every table (repeated, median), then one warm-up pass
    val loads = (0 until Main.SetupReps).map { _ =>
      Stats.timeMs(Tables.names.foreach(n => Tables(spark, ctx.dataDir, n).schema))._2
    }
    val (_, warmMs) = Stats.timeMs(pass(0))
    val loopStart = ctx.tracer.nowMs
    val passes = ctx.opCount(NominalPassSeconds, 1)
    val passMs = mutable.ArrayBuffer.empty[Double]
    var k = 1
    while (k <= passes) { passMs += Stats.timeMs(pass(k))._2; k += 1 }
    val loopEnd = ctx.tracer.nowMs
    val measured = done.filter(_.pass > 0).toSeq
    // queries per second of the median pass (a median, as on the sink)
    val e2e = Map(
      "throughput" -> order.size / (Stats.median(passMs.toSeq) / 1000.0),
      "latency_p50_ms" -> Stats.median(measured.map(_.ms)),
      "setup_s" -> (Stats.median(loads) + warmMs) / 1000.0)
    val layers = if (!ctx.tracer.enabled) Map.empty[String, Double] else {
      ctx.drain()
      val passes = (1 until k).map { p =>
        val qs = measured.filter(_.pass == p)
        val built = qs.flatMap(q => ctx.jobsIn(q.startMs, q.builtMs))
        val exec = qs.map(q => q -> ctx.jobsIn(q.plannedMs, q.endMs))
        val execJobs = exec.flatMap(_._2)
        val skew = exec.map(_._2.flatMap(_.taskMs).map(_.toDouble)).filter(_.nonEmpty)
          .map(ts => ts.max / math.max(1.0, Stats.median(ts)))
        Map(
          "bank.construct_s" -> qs.map(q => q.builtMs - q.startMs).sum / 1000.0,
          "bank.construct_jobs" -> built.size.toDouble,
          "bank.plan_s" -> qs.map(q => q.plannedMs - q.builtMs).sum / 1000.0,
          "bank.exec_s" -> qs.map(q => q.endMs - q.plannedMs).sum / 1000.0,
          "bank.exec_jobs" -> execJobs.size.toDouble,
          "bank.tasks" -> execJobs.map(_.tasks).sum.toDouble,
          "bank.shuffle_bytes" -> execJobs.map(_.shuffleBytes).sum.toDouble,
          "bank.spill_bytes" -> execJobs.map(_.spillBytes).sum.toDouble,
          "bank.gc_s" -> execJobs.map(_.gcMs).sum / 1000.0,
          "bank.task_skew" -> (if (skew.isEmpty) 0.0 else Stats.median(skew)))
      }
      val window = ctx.jobsIn(loopStart, loopEnd)
      val n = (k - 1).toDouble
      Main.NoLayers ++ passes.head.keys.map(m => m -> Stats.median(passes.map(_(m)))) ++ Map(
        "spark.jobs" -> window.size / n,
        "spark.tasks" -> window.map(_.tasks).sum / n,
        "spark.executor_cpu_s" -> window.map(_.cpuNs).sum / 1e9 / n,
        "spark.gc_s" -> window.map(_.gcMs).sum / 1000.0 / n)
    }
    Outcome(e2e, layers, Map(
      "queries" -> done.map(q => Map("query" -> q.query, "pass" -> q.pass,
        "ms" -> q.ms, "construct_ms" -> (q.builtMs - q.startMs),
        "plan_ms" -> (q.plannedMs - q.builtMs), "exec_ms" -> (q.endMs - q.plannedMs),
        "plan_hash" -> q.planHash, "out" -> q.out)).toList,
      "passes" -> (k - 1),
      "pass_ms" -> passMs.toList,
      "table_load_ms" -> loads.toList,
      "warm_pass_ms" -> warmMs,
      "oracle_sql" -> Queries.map(q => q -> oracle(q)).toMap))
  }
}
