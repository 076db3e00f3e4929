package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: plan `row_number().over(partitionBy(g).orderBy(o)) <= k`
  * filters as the native [[TopKPerGroup]] bounded-heap operator.
  *
  * Users keep writing the idiomatic window formulation; the engine
  * swaps in the operator that shuffles ≤ k·groups·partitions
  * pre-filtered rows instead of sorting every row of every partition
  * (see TopKPerGroup's scaladoc for the 100 TB argument). The rewrite
  * is what makes the operator an ENGINE feature rather than an API
  * users must opt into — the same reasoning as Spark's own
  * InferWindowGroupLimit, which only bounds rows per partition but
  * still pays the full sort + shuffle.
  *
  * Matched shape (analyzer output for the DataFrame/SQL form):
  *
  *   Filter(cond, Window(Seq(Alias(WindowExpression(RowNumber, spec))),
  *                       part, order, child))
  *
  * where spec is row_number's frame (ROWS UNBOUNDED PRECEDING .. CURRENT
  * ROW) and cond contains a conjunct `rn <= k`, `rn < k+1`, `rn = 1`,
  * or a literal-first mirror of one of those. Remaining conjuncts stay
  * in a Filter above the rewritten node. Spark's InferWindowGroupLimit
  * may already have inserted a WindowGroupLimit below the Window by the
  * time a user-provided rule runs — it is subsumed (dropped): the
  * partial heaps bound rows strictly tighter than its per-partition
  * limit, without the sort.
  *
  * Not rewritten (conservatively): multi-expression windows, rank /
  * dense_rank (different tie semantics than row_number), empty order
  * specs, non-integer or non-positive k.
  */
object TopKRewriteRule extends Rule[LogicalPlan] with PredicateHelper {

  private def limitFromConjunct(e: Expression, rn: ExprId): Option[Int] = e match {
    case LessThanOrEqual(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn => Some(k)
    case GreaterThanOrEqual(IntegerLiteral(k), a: AttributeReference) if a.exprId == rn => Some(k)
    case LessThan(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn => Some(k - 1)
    case GreaterThan(IntegerLiteral(k), a: AttributeReference) if a.exprId == rn => Some(k - 1)
    case EqualTo(a: AttributeReference, IntegerLiteral(1)) if a.exprId == rn => Some(1)
    case EqualTo(IntegerLiteral(1), a: AttributeReference) if a.exprId == rn => Some(1)
    case _ => None
  }

  private object RowNumberWindow {
    /** Extracts (rnAlias, partitionSpec, orderSpec, child) when the
      * Window is a lone row_number over a row frame.
      */
    def unapply(w: Window): Option[(Alias, Seq[Expression], Seq[SortOrder], LogicalPlan)] =
      w match {
        case Window(Seq(a @ Alias(WindowExpression(RowNumber(),
              WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame,
                UnboundedPreceding, CurrentRow))), _)), part, order, child, _)
            if order.nonEmpty =>
          Some((a, part, order, child))
        case _ => None
      }
  }

  /** Conf kill-switch (default on): lets a session measure the pure
    * window plan (a baseline case, differential tests)
    * without unregistering the rule — registration is session-global
    * and queries are optimized lazily, so a flag read at optimization
    * time is the only reliable scoping.
    */
  val EnabledKey = "spark.graft.topk.rewrite"

  /** Above this k the rewrite declines: the heaps hold k rows per group
    * per partition IN MEMORY and never spill, so an "effectively
    * unlimited" top-k (rn <= 100_000_000) is safer on the stock window
    * plan, which sorts and spills. Tunable per workload.
    */
  val MaxKKey = "spark.graft.topk.maxK"
  val DefaultMaxK = 1000000

  /** Per-task cap on rows retained across all heaps (≥ group count —
    * every group holds at least one row). Past it the partial stage
    * passes rows through un-heaped and the final stage degrades to a
    * disk-spillable sort + streaming rank (the stock window plan's
    * memory behavior) — see TopKPerGroupExec. Default sized so worst
    * case heap state stays a few hundred MB of UnsafeRows per task.
    */
  val MaxRetainedKey = "spark.graft.topk.maxRetainedPerTask"
  val DefaultMaxRetained = 4000000

  def maxRetained(conf: org.apache.spark.sql.internal.SQLConf): Int =
    try conf.getConfString(MaxRetainedKey, DefaultMaxRetained.toString).toInt
    catch { case _: NumberFormatException => DefaultMaxRetained }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString(EnabledKey, "true") != "true") plan else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, w @ RowNumberWindow(rnAlias, part, order, child)) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val rnId = rnAlias.exprId
      val hit = conjuncts.iterator.map(c => c -> limitFromConjunct(c, rnId))
        .collectFirst { case (c, Some(k)) => (c, k) }
      val maxK = try conf.getConfString(MaxKKey, DefaultMaxK.toString).toInt
                 catch { case _: NumberFormatException => DefaultMaxK }
      hit match {
        case Some((matched, k)) if k > 0 && k <= maxK =>
          // InferWindowGroupLimit's bound is subsumed by the partial heaps
          val realChild = child match {
            case WindowGroupLimit(_, _, _, limit, gchild) if limit >= k => gchild
            case other => other
          }
          val rnAttr = rnAlias.toAttribute.asInstanceOf[AttributeReference]
          val topk = TopKPerGroup(part, order, k, realChild, rnAttr)
          val rest = conjuncts.filterNot(_ eq matched)
          if (rest.isEmpty) topk else Filter(rest.reduce(And), topk)
        case _ => f
      }
  }


  /** Runtime registration on an existing session; the config path is
    * `spark.sql.extensions=graft.GraftExtensions`.
    */
  def register(spark: SparkSession): Unit = {
    TopKPerGroupStrategy.register(spark) // rewritten plans must be plannable
    if (!spark.experimental.extraOptimizations.contains(TopKRewriteRule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewriteRule
    }
  }
}
