package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.gen.{CmsEstimateExpr, ColMeansDExpr, DecUnscaledExpr, L2SqDExpr, L2SqFdExpr, LongSetAgg, Md5Hash60Expr, MinHashSigsExpr, NgramHashesExpr, PairsGenExpr, PqAdcExpr, PqCodesExpr, PqDmExpr, RandStringExpr, ShingleGenExpr, ShingleHashesExpr, Sum128Agg, TokNgramsGenExpr, TriPackGenExpr, TriUnpackExpr}

/** The engine posture every session that runs the inventory gets: the
  * 23 `graft_*` functions in [[GraftExtensions.builders]] (generators,
  * vector folds, sketches, hashes and the 128-bit decimal sums), the
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
  private def litString(e: Expression): String = e match {
    case Literal(v, _) if v != null => v.toString
    case other => throw new IllegalArgumentException(s"expected string literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_rand_string" -> { exprs =>
      RandStringExpr(exprs(0), litLong(exprs(1)), litInt(exprs(2)),
        litString(exprs(3)), if (exprs.length > 4) litInt(exprs(4)) else -1)
    },
    "graft_minhash_sigs" -> { exprs =>
      MinHashSigsExpr(exprs(0),
        if (exprs.length > 1) litInt(exprs(1)) else 5,
        if (exprs.length > 2) litInt(exprs(2)) else 16)
    },
    "graft_ngram_hashes" -> { exprs =>
      NgramHashesExpr(exprs(0), if (exprs.length > 1) litInt(exprs(1)) else 3)
    },
    "graft_md5_60" -> { exprs => Md5Hash60Expr(exprs(0)) },
    "graft_shingles" -> { exprs =>
      ShingleGenExpr(exprs(0), if (exprs.length > 1) litInt(exprs(1)) else 5)
    },
    "graft_cms_estimate" -> { exprs => CmsEstimateExpr(exprs(0), exprs(1)) },
    "graft_pairs" -> { exprs => PairsGenExpr(exprs(0), directed = false) },
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
    "graft_sum128" -> { exprs =>
      Sum128Agg.single(exprs(0), litInt(exprs(1)), litInt(exprs(2))) },
    "graft_sum128p" -> { exprs =>
      Sum128Agg(exprs(0), exprs(1), litInt(exprs(2)), litInt(exprs(3))) },
    "graft_dec_unscaled" -> { exprs => DecUnscaledExpr(exprs(0), litInt(exprs(1))) },
    "graft_collect_sorted_set" -> { exprs => LongSetAgg(exprs(0)) },
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
