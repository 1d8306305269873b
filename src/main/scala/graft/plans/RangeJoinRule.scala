package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** Optimizer rule that turns a point-in-interval theta-join — which Spark
  * can only plan as a broadcast-nested-loop / cartesian product — into the
  * bucketed equi-join [[graft.ops.RangeJoin]] builds by hand:
  *
  *   left JOIN right ON p >= lo AND p <= hi
  *     ⇒ left+bucket(p) JOIN explode(seq(bucket(lo), bucket(hi))) ON
  *       bucket-equality AND the ORIGINAL predicate
  *
  * Integer division is monotone, so `lo ≤ p ≤ hi` implies the point's
  * bucket lies in the interval's bucket range — the rewrite loses nothing,
  * and the exact predicate (kept verbatim as the residual join condition)
  * filters false bucket-mates. Join output columns are unchanged (the
  * helper columns are projected away), so the rewrite is transparent to
  * everything above it.
  *
  * Off by default: set `spark.graft.rangeJoin.width` to a positive bucket
  * width (≈ the median interval span) to arm it; [[graft.GraftSession.prepare]]
  * installs it in every graft session's `spark.experimental.extraOptimizations`.
  * Fires only on an INNER join whose condition is exactly the two range
  * conjuncts, point from the left side, bounds from the right, over a
  * single ordered domain: integral columns, DATE columns (bucketed on
  * epoch days), or TIMESTAMP / TIMESTAMP_NTZ columns (bucketed on epoch
  * microseconds) — `ts BETWEEN lo AND hi` is the form real event-interval
  * queries take. The width conf is interpreted in the domain's
  * underlying unit (1 for ints, days for DATE, microseconds for
  * TIMESTAMP); mixed-domain conditions are left untouched (their buckets
  * would not align).
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  val WidthKey = "spark.graft.rangeJoin.width"

  private def width: Long =
    try conf.getConfString(WidthKey, "0").toLong
    catch { case _: NumberFormatException => 0L }

  /** Domain family id (-1 = unsupported). Buckets only align within one
    * family — epoch DAYS vs epoch MICROS differ by 8.64e10 — so the rule
    * requires all three operands to share it.
    */
  private def domain(e: Expression): Int = e.dataType match {
    case LongType | IntegerType | ShortType | ByteType => 0
    case DateType => 1
    case TimestampType | TimestampNTZType => 2
    case _ => -1
  }

  /** Monotone map to the domain's underlying long: the value for integrals,
    * epoch days for DATE, epoch micros for TIMESTAMP (NTZ pinned through the
    * session zone — consistently on all three operands, so bucket equality
    * is unaffected by the zone choice).
    */
  private def toLong(e: Expression): Expression = e.dataType match {
    case DateType => Cast(UnixDate(e), LongType)
    case TimestampType => UnixMicros(e)
    case TimestampNTZType =>
      UnixMicros(Cast(e, TimestampType, Some(conf.sessionLocalTimeZone)))
    case _ => Cast(e, LongType)
  }

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.subsetOf(side.outputSet) && e.deterministic

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = width
    if (w <= 0) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner,
          Some(And(GreaterThanOrEqual(p1, lo), LessThanOrEqual(p2, hi))), _)
          if p1.semanticEquals(p2) &&
            domain(p1) >= 0 && domain(p1) == domain(lo) &&
            domain(lo) == domain(hi) &&
            refsOnly(p1, left) && refsOnly(lo, right) && refsOnly(hi, right) =>
        rewrite(j, left, right, p1, lo, hi, w)
    }
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
      p: Expression, lo: Expression, hi: Expression, w: Long): LogicalPlan = {
    def bucketOf(e: Expression): Expression =
      IntegralDivide(toLong(e), Literal(w))
    val pBucket = Alias(bucketOf(p), "_graft_range_pb")()
    val leftB = Project(left.output :+ pBucket, left)
    // Sequence is TimeZoneAwareExpression: without an explicit zone it
    // counts as unresolved and fails post-analysis plan validation
    val gen = Explode(Sequence(bucketOf(lo), bucketOf(hi), None,
      Some(conf.sessionLocalTimeZone)))
    val iBucket = AttributeReference("_graft_range_ib", LongType,
      nullable = gen.elementSchema.fields.head.nullable)()
    val rightB = Generate(gen, Nil, outer = false, None, Seq(iBucket), right)
    val joined = Join(leftB, rightB, Inner,
      Some(And(EqualTo(pBucket.toAttribute, iBucket), j.condition.get)), j.hint)
    // rewritten condition no longer matches the rule's pattern → converges
    // under the optimizer's fixed-point batch
    Project(j.output, joined)
  }
}
