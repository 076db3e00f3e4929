package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.gen.{ColMeansDExpr, L2SqDExpr, L2SqFdExpr, PairsGenExpr, PqAdcExpr, PqCodesExpr, PqDmExpr, ShingleGenExpr, ShingleHashesExpr, TokNgramsGenExpr, TriPackGenExpr, TriUnpackExpr}

/** The engine posture every session that runs the inventory gets: the
  * 13 `graft_*` functions in [[GraftExtensions.builders]] that the
  * inventory's SQL calls (generators, vector folds, product-quantizer
  * kernels and the shingle hash set), the
  * [[graft.plans.TopKPerGroupStrategy]] planner strategy and the
  * [[graft.plans.TopKRewriteRule]] optimizer rule.
  *
  * Two install paths, the same three parts:
  *  - config: `spark.sql.extensions=graft.GraftExtensions` (injected at
  *    session build);
  *  - runtime: `GraftExtensions.register(spark)` on an existing session.
  *    It is idempotent, and `SparkEntry.queries` calls it before every
  *    build, so any session handed to the inventory gets the posture.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._
  override def apply(e: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    e.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
  }
}

object GraftExtensions {

  private def litLong(e: Expression): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(s"expected integer literal, got $other")
  }
  private def litInt(e: Expression): Int = Math.toIntExact(litLong(e))

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_shingles" -> { exprs =>
      ShingleGenExpr(exprs(0), if (exprs.length > 1) litInt(exprs(1)) else 5)
    },
    "graft_pairs_all" -> { exprs => PairsGenExpr(exprs(0), directed = true) },
    "graft_tri_pack" -> { exprs => TriPackGenExpr(exprs(0)) },
    "graft_tri_unpack" -> { exprs => TriUnpackExpr(exprs(0)) },
    "graft_l2sq_d" -> { exprs => L2SqDExpr(exprs(0), exprs(1), litInt(exprs(2))) },
    "graft_l2sq_fd" -> { exprs => L2SqFdExpr(exprs(0), exprs(1), litInt(exprs(2))) },
    "graft_colmeans_d" -> { exprs => ColMeansDExpr(exprs(0), litInt(exprs(1))) },
    "graft_pq_dm" -> { exprs =>
      PqDmExpr(exprs(0), exprs(1), litInt(exprs(2)), litInt(exprs(3)), litInt(exprs(4))) },
    "graft_pq_codes" -> { exprs => PqCodesExpr(exprs(0)) },
    "graft_pq_adc" -> { exprs => PqAdcExpr(exprs(0), exprs(1)) },
    "graft_shingle_hashes" -> { exprs =>
      ShingleHashesExpr(exprs(0), litInt(exprs(1)), litLong(exprs(2))) },
    "graft_tok_ngrams" -> { exprs =>
      TokNgramsGenExpr(exprs(0), litInt(exprs(1)),
        if (exprs.length > 2) litInt(exprs(2)) else 1, distinct = false) },
    "graft_tok_ngrams_distinct" -> { exprs =>
      TokNgramsGenExpr(exprs(0), litInt(exprs(1)), 1, distinct = true) },
  )

  /** Runtime install on an existing session: what the config path
    * injects. A function that already exists is kept, not replaced.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    graft.plans.TopKRewriteRule.register(spark) // and its strategy
  }
}
