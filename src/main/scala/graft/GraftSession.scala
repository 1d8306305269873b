package graft

import graft.functions.GraftFunctions
import graft.plans.{AsofJoinStrategy, PushFilterThroughAsofJoin, RangeJoinRewrite}
import org.apache.spark.sql.SparkSession

/** The one way to build and prepare a graft session.
  *
  * Designed for a real cluster (AQE on, skew-join handling, sane shuffle
  * partitioning); in this repo it is exercised through `local[N]`.
  */
object GraftSession {

  /** Task threads for the mains: `SPARK_GRAFT_CPUS`, else 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    prepare(s)
  }

  /** Make any live session graft-ready; idempotent, so it is safe on every
    * query call (every `SparkEntry.allDefs` def runs it first).
    *
    *   - the runtime confs graft's plans assume;
    *   - graft's native functions ([[GraftFunctions.all]]);
    *   - the ASOF planner strategy and its filter pushdown, and the
    *     BETWEEN-join rewrite ([[RangeJoinRewrite]], inert until
    *     `spark.graft.rangeJoin.width` is set).
    */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // InferWindowGroupLimit's default threshold (1000) silently refuses the
    // k-row-heap rewrite for larger bounded ranks — quantile_deterministic's
    // rn <= 8192 presample trim was buffering+sorting whole groups (r15
    // mechanical sweep catch). An 8192-row heap per group is a few MB:
    // strictly better than a full per-group sort at any scale.
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "16384")
    GraftFunctions.register(spark)
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(AsofJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsofJoinStrategy
    Seq(PushFilterThroughAsofJoin, RangeJoinRewrite).foreach { rule =>
      if (!exp.extraOptimizations.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
    spark
  }
}
