package graft

import graft.plans.{AsofJoinExec, AsofJoinPlan, BroadcastAsofJoinExec}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One session contract: [[GraftSession.prepare]] is the only place a
  * session gets graft's confs, functions and planner extensions, and
  * `SparkEntry.queries` runs it on whatever session it is handed.
  */
class SessionContractSpec extends SparkSpecBase {

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq

  test("SparkEntry.queries prepares a fresh session: same outputs as the shared one") {
    // newSession: fresh function registry, conf and experimental lists
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("simhash64"))
    for (q <- Seq("dedup_simhash_pairs", "asof_join"))
      assert(rows(SparkEntry.queries(q)(fresh, sfDir)) == rows(run(q)), q)
    assert(functions.GraftFunctions.all.forall { case (n, _) => fresh.catalog.functionExists(n) })
    // `asof` itself registers nothing: the strategy comes from prepare
    import fresh.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "t")
    val right = Seq((1L, 9L, "a"), (1L, 15L, "b"), (2L, 6L, "c")).toDF("k", "t2", "v")
    val joined = AsofJoinPlan.asof(left, right, Seq("k"), col("t"), col("t2"), Seq("v"))
    assert(joined.orderBy("k", "t").select("asof_v").collect().map(r => Option(r.getString(0)))
      .toSeq == Seq(Some("a"), Some("b"), None))
    val plan = joined.queryExecution.executedPlan
    assert(plan.exists {
      case _: AsofJoinExec | _: BroadcastAsofJoinExec => true
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.exists(p => p.isInstanceOf[AsofJoinExec] || p.isInstanceOf[BroadcastAsofJoinExec])
      case _ => false
    }, plan.toString)
  }

  test("prepare is idempotent: a second call adds no strategy or rule") {
    val s = GraftSession.prepare(spark.newSession())
    val (strategies, rules) = (s.experimental.extraStrategies.length,
      s.experimental.extraOptimizations.length)
    GraftSession.prepare(s)
    assert(s.experimental.extraStrategies.length == strategies)
    assert(s.experimental.extraOptimizations.length == rules)
  }

  // The tooling gate, in the spirit of PlanAuditSpec's: a second session
  // path (a hand-built session, a per-query conf or function registration)
  // must not creep back into src/main.
  test("only GraftSession builds or prepares a session in src/main") {
    val forbidden = Seq("""SparkSession\s*\.\s*builder""", """GraftSession\s*\.\s*tune\b""",
      """GraftFunctions\s*\.\s*register\s*\(""").map(_.r)
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .toSeq
    assert(sources.size > 50, s"scanned only ${sources.size} files")
    val hits = for {
      p <- sources
      text = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
      re <- forbidden if re.findFirstIn(text).isDefined
    } yield s"$p: ${re.regex}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
