package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, Expression, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.expressions.{And, PredicateHelper}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{
  BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode,
  Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** A REAL as-of join operator — custom logical node + planner strategy +
  * physical merge — instead of the union+window composition
  * ([[graft.ops.AsofJoin]], which remains the no-extension path).
  *
  * Semantics: for every left row, the payload of the right row with the
  * greatest `rightTime` ≤ (`<` when strict) `leftTime` within equal keys;
  * ties on (keys, time) resolve to the greatest payload (deterministic).
  *
  * Physical shape: both sides hash-cluster on the keys and sort by
  * (keys, time) — exactly a sort-merge join's distribution — then ONE
  * forward pass per partition with a single buffered right row of
  * look-behind state: no per-key buffering of right rows (SMJ buffers the
  * whole matching group), no union materialization, no window frame. At
  * 100 TB this is the same two exchanges a fact-fact SMJ pays, with O(1)
  * memory per partition beyond the sorters.
  */
final case class AsofJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[Attribute],
    strict: Boolean
) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ payload.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

final case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[Attribute],
    strict: Boolean,
    left: SparkPlan,
    right: SparkPlan
) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // right additionally orders by payload so ties on (keys, time) have a
  // deterministic winner (the last = greatest payload)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: payload)).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val isStrict = strict
    val nPayload = payload.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), left.output)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), right.output)
      val payloadProj = UnsafeProjection.create(payload, right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(leftTime.dataType))
      val resultProj = UnsafeProjection.create(output, output)
      val nullPayload = new GenericInternalRow(nPayload)
      val joined = new JoinedRow
      val buffered = rIter.buffered

      // look-behind state: the newest right row already consumed
      var curKey: InternalRow = null
      var curPayload: InternalRow = null

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTime = lTimeProj(lRow).copy()
        // consume every right row at a smaller key, or at this key with an
        // admissible time; right is sorted, so the last one consumed at an
        // equal key is the as-of match
        var advancing = true
        while (advancing && buffered.hasNext) {
          val head = buffered.head
          val c = keyOrd.compare(rKeyProj(head), lKey)
          val admissible = c < 0 || (c == 0 && {
            val t = timeOrd.compare(rTimeProj(head), lTime)
            if (isStrict) t < 0 else t <= 0
          })
          if (admissible) {
            val rRow = buffered.next()
            curKey = rKeyProj(rRow).copy()
            curPayload = payloadProj(rRow).copy()
          } else advancing = false
        }
        val matched = curPayload != null && curKey != null &&
          keyOrd.compare(curKey, lKey) == 0
        resultProj(joined(lRow, if (matched) curPayload else nullPayload))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast as-of: when the right side is small it ships whole to every
  * task; the LEFT side needs NO shuffle and NO sort — each right key's
  * rows sort once in the broadcast build, and every left row binary-
  * searches its key's timeline. The same trade a BroadcastHashJoin makes,
  * applied to as-of semantics.
  */
final case class BroadcastAsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[Attribute],
    strict: Boolean,
    left: SparkPlan,
    right: SparkPlan
) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val isStrict = strict
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    val rightOutput = right.output
    val rightKeysLocal = rightKeys
    val rightTimeLocal = rightTime
    val payloadLocal = payload
    val nPayload = payload.length
    left.execute().mapPartitions { lIter =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), left.output)
      val rKeyProj = UnsafeProjection.create(rightKeysLocal, rightOutput)
      val rTimeProj = UnsafeProjection.create(Seq(rightTimeLocal), rightOutput)
      val payloadProj = UnsafeProjection.create(payloadLocal, rightOutput)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(leftTime.dataType))
      val payloadOrd =
        RowOrdering.createNaturalAscendingOrdering(payloadLocal.map(_.dataType))
      // build once per partition: key → (times, payloads) sorted ascending
      // by (time, payload) so ties resolve to the greatest payload
      val index = new java.util.HashMap[UnsafeRow, (Array[InternalRow], Array[InternalRow])]()
      val grouped = broadcastRows.value.groupBy(r => rKeyProj(r).copy())
      grouped.foreach { case (k, rows) =>
        val sorted = rows.map(r => (rTimeProj(r).copy(), payloadProj(r).copy()))
          .sortWith { (a, b) =>
            val c = timeOrd.compare(a._1, b._1)
            if (c != 0) c < 0 else payloadOrd.compare(a._2, b._2) < 0
          }
        index.put(k, (sorted.map(_._1), sorted.map(_._2)))
      }
      val resultProj = UnsafeProjection.create(output, output)
      val nullPayload = new GenericInternalRow(nPayload)
      val joined = new JoinedRow
      lIter.map { lRow =>
        val entry = index.get(lKeyProj(lRow))
        val matched = if (entry == null) null else {
          val (times, payloads) = entry
          val lTime = lTimeProj(lRow)
          // binary search: last index with time ≤ (or <) lTime
          var lo = 0; var hi = times.length - 1; var ans = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            val c = timeOrd.compare(times(mid), lTime)
            if (c < 0 || (c == 0 && !isStrict)) { ans = mid; lo = mid + 1 }
            else hi = mid - 1
          }
          if (ans >= 0) payloads(ans) else null
        }
        resultProj(joined(lRow, if (matched != null) matched else nullPayload))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinNode]] → broadcast or merge exec; installed in the
  * session's `spark.experimental.extraStrategies` by
  * [[graft.GraftSession.prepare]].
  *
  * The broadcast variant is chosen exactly like BroadcastHashJoin: right
  * side's logical size estimate under `autoBroadcastJoinThreshold`.
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lk, rk, lt, rt, p, s) =>
      val threshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val exec =
        if (threshold > 0 && r.stats.sizeInBytes <= threshold)
          BroadcastAsofJoinExec(lk, rk, lt, rt, p, s, planLater(l), planLater(r))
        else AsofJoinExec(lk, rk, lt, rt, p, s, planLater(l), planLater(r))
      exec :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: push left-only predicates through [[AsofJoinNode]].
  *
  * Catalyst's own pushdown rules stop at unknown nodes, so a filter above
  * the as-of operator would otherwise run AFTER the join — scanning and
  * joining rows the query immediately discards. An as-of join preserves
  * left rows exactly 1:1 (every output row is one left row + a looked-up
  * payload), so any conjunct referencing only left columns commutes with
  * the node and can continue down to the scan. Right-side/payload
  * conjuncts stay above (removing a left row never changes another row's
  * match, but payload predicates depend on the join result).
  */
object PushFilterThroughAsofJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsofJoinNode) =>
      val (pushable, rest) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(aj.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(pushable.reduce(And), aj.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** The user-facing builder: resolves columns against the analyzed inputs,
  * freshly aliases everything taken from the right side (so self-as-of
  * joins never collide on expression ids), and surfaces the custom node as
  * a plain DataFrame.
  */
object AsofJoinPlan {

  def asof(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: Column,
      rightTime: Column,
      rightPayload: Seq[String],
      strict: Boolean = false,
      payloadPrefix: String = "asof_"
  ): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // fresh aliases for every right-side column we touch
    val rAliased = right.select(
      keys.map(k => col(k).as(s"_asof_k_$k")) ++
        Seq(rightTime.as("_asof_t")) ++
        rightPayload.map(p => col(p).as(s"$payloadPrefix$p")): _*)
    val rPlan = rAliased.queryExecution.analyzed
    def rAttr(name: String): Attribute =
      rPlan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"missing $name in ${rPlan.output}"))
    val lKeyAttrs = keys.map(k =>
      lPlan.output.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(s"left side lacks key column $k")))
    // resolve the left time Column against the analyzed left plan
    val ltExpr = left.select(leftTime.as("_t")).queryExecution.analyzed match {
      case Project(Seq(Alias(child, _)), _) => child
      case other => throw new IllegalStateException(s"unexpected plan: $other")
    }
    val node = AsofJoinNode(
      lPlan, rPlan,
      leftKeys = lKeyAttrs,
      rightKeys = keys.map(k => rAttr(s"_asof_k_$k")),
      leftTime = ltExpr,
      rightTime = rAttr("_asof_t"),
      payload = rightPayload.map(p => rAttr(s"$payloadPrefix$p")),
      strict = strict)
    org.apache.spark.sql.graftshim.GraftSqlShim.ofRows(spark, node)
  }
}
