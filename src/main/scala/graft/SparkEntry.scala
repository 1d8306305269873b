package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every implemented SURVEY §2 operator, with oracle when SQL-expressible;
    * each def's `fn` first runs [[GraftSession.prepare]] on the session it is
    * handed.
    */
  def allDefs: Map[String, OpDef] =
    (ops.Relational.defs ++ ops.AnalyticsR7.defs ++
      ops.SeriesDiagnostics.defs ++ ops.AssociationStats.defs ++
      ops.DistributionProfile.defs ++ ops.EngagementOps.defs ++
      ops.CorpusProfile.defs ++ ops.TpchShapes.defs ++
      ops.LedgerShapes.defs ++ ops.AnalyticsR12.defs ++
      ops.AnalyticsR14.defs ++ ops.AnalyticsR15.defs ++ ops.AnalyticsR16.defs ++
      ops.CdcQueries.defs ++
      ops.StreamQueries.defs ++ text.TextOps.defs ++ dedup.Dedup.defs ++
      ann.Ann.defs ++ multimodal.MediaColumns.defs).map { case (k, d) =>
      k -> d.copy(fn = (s: SparkSession, dir: String) => d.fn(GraftSession.prepare(s), dir))
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allDefs("q1_agg").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (k, d) => k -> d.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (k, OpDef(_, Some(sql))) => k -> sql }
}
