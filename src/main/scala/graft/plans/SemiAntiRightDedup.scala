package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Semi/anti-join right-side dedup (SURVEY.md §2 J4; the reference's
  * engine performs the same reduction for `EXISTS` / `NOT EXISTS`
  * probes).
  *
  * For `LeftSemi` and `LeftAnti` joins only the EXISTENCE of a
  * matching right row matters: the output is
  * `{l ∈ left : ∃ r ∈ right, cond(l, r)}` (negated for anti), and
  * duplicate right tuples cannot change an existential. After column
  * pruning the right side carries exactly the attributes the join
  * condition references, so grouping it on its full output is a pure
  * key-dedup — on a fact-table probe (`part WHERE NOT EXISTS (… FROM
  * lineitem …)`) the shuffle moves ~|distinct keys| rows instead of
  * the full fact table, with the dedup itself done map-side by the
  * partial aggregate. At 100 TB this is the difference between
  * shuffling the fact table and shuffling its key domain; measured
  * 3× on the q07b anti-join shape at sf1 (BASELINE.md).
  *
  * Guarded to stay net-positive:
  *  - right sides at or under `autoBroadcastJoinThreshold` are left
  *    alone — they broadcast without any shuffle, and inserting an
  *    aggregate would ADD one (a threshold of -1 disables
  *    broadcasting, so every right side is eligible);
  *  - the (pruned) right output must consist EXACTLY of the
  *    condition's equi-join key attributes: if the condition also
  *    references a non-equi right column (`r.qty > l.q`), the
  *    aggregate would group — and hash-partition — on (key, qty),
  *    which does not satisfy the join's clustering on the key alone,
  *    so EnsureRequirements would add a SECOND right-side exchange;
  *  - a right side pruned to ZERO columns is skipped: grouping by
  *    nothing is a GLOBAL aggregate that emits one row even on empty
  *    input, which would flip the existential for an empty right;
  *  - explicit right-side join hints are respected (a user asking
  *    for BROADCAST gets exactly that plan);
  *  - aggregates are not re-wrapped (also the idempotency bound for
  *    running in two batches, see below) and streaming right sides
  *    are skipped (a blind streaming aggregate would demand
  *    watermark/output-mode changes).
  *
  * Registered TWICE, because Spark rewrites the two probe surfaces in
  * different optimizer batches:
  *  - `SparkSessionExtensions.injectOptimizerRule`
  *    ([[graft.expressions.GraftExtensions]]) lands it in the
  *    operator-optimization batches — this catches DataFrame-API
  *    `left_semi`/`left_anti` joins, whose Join node exists from the
  *    start (and after column pruning has narrowed the right side);
  *  - `spark.experimental.extraOptimizations` (applied by
  *    `Session.local` at session build) lands it in the "User
  *    Provided Optimizers" batch, which runs AFTER the late
  *    "RewriteSubquery" batch where SQL `EXISTS`/`NOT EXISTS`/`IN`
  *    predicates become semi/anti joins (and whose trailing
  *    ColumnPruning has already narrowed them). Extension-injected
  *    rules alone never see those joins.
  * The `Aggregate` guard makes the second pass a no-op over joins the
  * first pass already rewrote.
  *
  * The inserted [[Aggregate]] reuses the child's own output
  * attributes, so the join condition's references stay bound and
  * physical planning gives the standard partial → exchange → final
  * hash aggregate whose key-partitioned output the join reuses
  * without a second exchange.
  */
object SemiAntiRightDedup extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(_, right, LeftSemi | LeftAnti, Some(cond), hint)
        if hint.rightHint.isEmpty && eligible(right, cond) =>
      j.copy(right = Aggregate(right.output, right.output, right))
  }

  /** Right-side attributes bound by an equi predicate to the OTHER
    * side (plain attribute = attribute only — a cast around a key
    * conservatively disqualifies it). */
  private def equiRightKeys(cond: Expression,
                            rightSet: AttributeSet): AttributeSet =
    AttributeSet(cond.collect {
      case EqualTo(a: Attribute, b: Attribute)
          if rightSet.contains(a) != rightSet.contains(b) =>
        if (rightSet.contains(a)) a else b
      case EqualNullSafe(a: Attribute, b: Attribute)
          if rightSet.contains(a) != rightSet.contains(b) =>
        if (rightSet.contains(a)) a else b
    })

  private def eligible(right: LogicalPlan, cond: Expression): Boolean = {
    val threshold = conf.autoBroadcastJoinThreshold
    lazy val rightSet = right.outputSet
    right.output.nonEmpty &&
    !right.isStreaming &&
    !right.isInstanceOf[Aggregate] &&
    (threshold < 0 || right.stats.sizeInBytes > threshold) && {
      val equi = equiRightKeys(cond, rightSet)
      rightSet.subsetOf(equi) && equi.subsetOf(rightSet)
    }
  }
}
