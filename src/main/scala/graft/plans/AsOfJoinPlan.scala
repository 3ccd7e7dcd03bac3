package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BinaryExpression, BindReferences, EqualTo, Expression, ExpressionInfo, GenericInternalRow, JoinedRow, PredicateHelper, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** The as-of (temporal nearest) join as a first-class physical
  * operator — the whole-operator tier of SURVEY §4's extension ladder
  * (marker function → `Rule[LogicalPlan]` → custom logical node →
  * `SparkStrategy` → `SparkPlan`), for the one classic operator Spark
  * has no built-in for (the reference's Spark 2.4 surface lacks it
  * too; kdb/DuckDB/QuestDB all ship it natively).
  *
  * User surface: a LEFT OUTER join whose condition is one key equality
  * plus the `graft_asof(l_time, r_time)` marker —
  *
  * {{{
  *   left.join(right, expr("l_user = r_user AND graft_asof(l_us, r_us)"), "left")
  * }}}
  *
  * — declares "each left row takes the matching-key right row with the
  * greatest r_time ≤ l_time, or nulls" (`graft_asof_fwd` is the
  * forward twin: SMALLEST r_time ≥ l_time — next-event attribution).
  * [[AsOfJoinRewrite]] turns that
  * join into the [[AsOfJoin]] logical node, [[AsOfJoinStrategy]] plans
  * [[AsOfJoinExec]], and the exec MERGE-WALKS the two key-clustered,
  * (key, time)-sorted children: one pass, zero buffering beyond a
  * single candidate row per key.
  *
  * Why an exec instead of composition: the q75 window form
  * (union → `last(ignoreNulls)` over (key, time)) shuffles BOTH
  * corpora into one exchange and carries every probe column through
  * the window buffer; an inequality range join explodes to O(n·m)
  * pairs under BroadcastNestedLoop. The merge-walk is the kdb plan:
  * one co-partitioned exchange per side (Catalyst inserts them from
  * `requiredChildDistribution`/`requiredChildOrdering` exactly as for
  * sort-merge join, so AQE coalescing stays consistent across the
  * pair), then linear time, O(1) state.
  *
  * v1 contract (checked by the rewrite, which otherwise leaves the
  * join untouched): key and time expressions are BIGINT; rows with
  * null key/time match nothing (left ones still emit with nulls).
  * Installed idempotently at table-load time ([[AsOfJoinPlan.install]],
  * called by [[graft.sources.Tables.load]]). */
object AsOfJoinPlan {

  val functionEntries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_asof"),
      new ExpressionInfo(classOf[AsOfMarker].getName, "graft_asof"),
      (args: Seq[Expression]) => AsOfMarker(args(0), args(1), forward = false)),
    (FunctionIdentifier("graft_asof_fwd"),
      new ExpressionInfo(classOf[AsOfMarker].getName, "graft_asof_fwd"),
      (args: Seq[Expression]) => AsOfMarker(args(0), args(1), forward = true)))

  /** Idempotently install marker + rewrite + strategy on a live
    * session. */
  def install(spark: SparkSession): Unit = synchronized {
    functionEntries.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(AsOfJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AsOfJoinRewrite
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
  }
}

/** `graft_asof(l_time, r_time)` — the as-of intent marker. Pure
  * declaration: [[AsOfJoinRewrite]] consumes it before planning; if it
  * ever survives to execution the operator contract was violated
  * (extensions not installed, or a join shape the rewrite refuses) and
  * it fails LOUDLY instead of silently degrading to a cross-product
  * filter that would drop every non-latest pair. */
case class AsOfMarker(left: Expression, right: Expression, forward: Boolean)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  private def unrewritten(): Nothing = throw new UnsupportedOperationException(
    "graft_asof is a join marker, not a predicate: it must appear as a " +
      "conjunct of a LEFT OUTER equi-join condition with " +
      "graft.plans.AsOfJoinPlan.install (Tables.load calls it) active, " +
      "and BIGINT key/time columns")

  override def eval(input: InternalRow): Any = unrewritten()
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    unrewritten()
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AsOfMarker =
    copy(left = newLeft, right = newRight)
}

/** Logical as-of join: per left row, the right row with equal key and
  * the greatest time ≤ the left time (nulls when none). */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    forward: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Rewrites `l JOIN_LEFTOUTER r ON lk = rk AND graft_asof(lt, rt)`
  * into [[AsOfJoin]]. Refuses (leaving the marker to fail loudly at
  * execution) anything else: extra conjuncts, non-left-outer types,
  * non-BIGINT keys/times — the shapes whose as-of semantics we have
  * not defined. */
object AsOfJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, LeftOuter, Some(cond), _) =>
      val conj = splitConjunctivePredicates(cond)
      val markers = conj.collect { case m: AsOfMarker => m }
      val rest = conj.filterNot(_.isInstanceOf[AsOfMarker])
      (markers, rest) match {
        case (Seq(m), Seq(eq: EqualTo)) =>
          (sides(eq.left, eq.right, l, r), sides(m.left, m.right, l, r)) match {
            case (Some((lk, rk)), Some((lt, rt)))
                if Seq(lk, rk, lt, rt).forall(_.dataType == LongType) =>
              AsOfJoin(l, r, lk, rk, lt, rt, m.forward)
            case _ => j
          }
        case _ => j
      }
  }

  /** Orient (a, b) as (left-side, right-side), or None if mixed. */
  private def sides(a: Expression, b: Expression,
      l: LogicalPlan, r: LogicalPlan): Option[(Expression, Expression)] =
    if (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet))
      Some((a, b))
    else if (b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet))
      Some((b, a))
    else None
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, fwd) =>
      AsOfJoinExec(lk, rk, lt, rt, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: children arrive key-clustered (one exchange
  * each, co-partitioned by Catalyst) and (key, time)-sorted (Catalyst
  * inserts the sorts), so each partition pair merge-walks in one pass.
  * Right rows are consumed monotonically. Backward mode retains one
  * matching-key candidate (copied once per in-key right row — rows
  * whose key already fell behind the left cursor are discarded
  * without copying); forward mode is pure lookahead with zero copies
  * (the surviving head IS the match). Left rows with null key/time
  * emit with nulls; right rows with null key/time are skipped. */
case class AsOfJoinExec(leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression, forward: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Storage-partitioned as-of: Spark's own key-group co-partitioning
    * is hard-gated to `SortMergeJoinExec`/`ShuffledHashJoinExec`
    * (`EnsureRequirements.checkKeyGroupCompatible` instanceof-matches
    * those classes), so a custom exec over two co-bucketed DSv2 scans
    * would ALWAYS re-shuffle both sides even though the storage already
    * clusters them. This check closes that gap conservatively: when both
    * children already report `KeyGroupedPartitioning` over the SAME
    * function on exactly the join keys, with IDENTICAL ordered partition
    * values (which is also the positional contract `zipPartitions`
    * needs), the exec requires nothing and Catalyst inserts no exchange
    * — sorts still apply. Any mismatch falls back to the ordinary
    * clustered requirement. */
  private def storageCoPartitioned: Boolean = {
    import org.apache.spark.sql.catalyst.expressions.TransformExpression
    import org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning
    import org.apache.spark.sql.catalyst.util.InternalRowComparableWrapper
    (left.outputPartitioning, right.outputPartitioning) match {
      case (l: KeyGroupedPartitioning, r: KeyGroupedPartitioning) =>
        (l.expressions, r.expressions) match {
          case (Seq(lt: TransformExpression), Seq(rt: TransformExpression)) =>
            lt.function.canonicalName() == rt.function.canonicalName() &&
            lt.numBucketsOpt == rt.numBucketsOpt &&
            lt.children.length == 1 && rt.children.length == 1 &&
            lt.children.head.semanticEquals(leftKey) &&
            rt.children.head.semanticEquals(rightKey) &&
            l.numPartitions == r.numPartitions &&
            l.partitionValues.length == r.partitionValues.length &&
            l.partitionValues.zip(r.partitionValues).forall { case (a, b) =>
              InternalRowComparableWrapper(a, l.expressions) ==
                InternalRowComparableWrapper(b, r.expressions)
            }
          case _ => false
        }
      case _ => false
    }
  }

  override def requiredChildDistribution: Seq[Distribution] =
    if (storageCoPartitioned)
      org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution ::
        org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution :: Nil
    else ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending) :: SortOrder(leftTime, Ascending) :: Nil,
      SortOrder(rightKey, Ascending) :: SortOrder(rightTime, Ascending) :: Nil)

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val rightArity = right.output.size
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val nullRight = new GenericInternalRow(rightArity)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        // one-row lookahead over the right stream, nulls skipped
        private var head: InternalRow = _
        private var headKey = 0L
        private var headTime = 0L
        private var headValid = false
        private def advanceHead(): Unit = {
          headValid = false
          while (!headValid && ri.hasNext) {
            val row = ri.next()
            val k = rk.eval(row)
            val t = rt.eval(row)
            if (k != null && t != null) {
              head = row
              headKey = k.asInstanceOf[Long]
              headTime = t.asInstanceOf[Long]
              headValid = true
            }
          }
        }
        advanceHead()

        private var cand: InternalRow = _
        private var candKey = 0L

        override def hasNext: Boolean = li.hasNext
        override def next(): InternalRow = {
          val l = li.next()
          val k = lk.eval(l)
          val t = lt.eval(l)
          if (k == null || t == null) joined(l, nullRight)
          else {
            val lkv = k.asInstanceOf[Long]
            val ltv = t.asInstanceOf[Long]
            if (forward) {
              // FORWARD (earliest at-or-after): discard right rows that
              // can never match this or any future left row (smaller
              // key, or our key strictly before our time — future left
              // times only grow); the surviving head, if key-matched,
              // IS the match. Pure lookahead: no candidate copy at all.
              while (headValid && (headKey < lkv ||
                  (headKey == lkv && headTime < ltv)))
                advanceHead()
              if (headValid && headKey == lkv) joined(l, head)
              else joined(l, nullRight)
            } else {
              // BACKWARD (latest at-or-before): consume right rows that
              // can no longer improve for a future left row — anything
              // with a smaller key, or our key at time ≤ ours (left
              // times are ascending within the key, so the LAST such
              // row is the as-of match and remains the best candidate
              // for later left rows of this key)
              while (headValid && (headKey < lkv ||
                  (headKey == lkv && headTime <= ltv))) {
                if (headKey == lkv) { cand = head.copy(); candKey = lkv }
                advanceHead()
              }
              if (cand != null && candKey == lkv) joined(l, cand)
              else joined(l, nullRight)
            }
          }
        }
      }
    }
  }
}
