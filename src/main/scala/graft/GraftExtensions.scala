package graft

import graft.expr.{HammingDistance, KllMergeAgg, KllQuantile, KllSketchAgg, MinHashSig, ThetaANotB, ThetaEstimate, ThetaIntersect, ThetaSketchAgg, ThetaUnionAgg, VecDot}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point, installed at session build with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (as
  * [[Session.build]] does). It injects:
  *   - the engine's native expressions as SQL functions, so
  *     `spark.sql("... vec_dot(a, b) ...")` works next to the Column API;
  *   - [[graft.plans.BandJoinRule]], which rewrites pure band joins to a
  *     bucketed equi-join;
  *   - [[graft.plans.AsOfJoinStrategy]], which plans the as-of join node.
  *
  * Catalyst applies extensions only when a session is built, so a
  * session built without them has none of the three. To plan one query
  * without the band rule, set `spark.sql.optimizer.excludedRules` to
  * `BandJoinRule.ruleName`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => graft.plans.BandJoinRule)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))),
    (
      FunctionIdentifier("hamming_distance"),
      new ExpressionInfo(classOf[HammingDistance].getName, "hamming_distance"),
      (exprs: Seq[Expression]) => HammingDistance(exprs(0), exprs(1))),
    (
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => {
        // minhash_sig(tokens[, numHashes[, seed]]) — literal params only
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sig $what must be an integer literal, got $other")
        }
        exprs match {
          case Seq(t)       => MinHashSig(t)
          case Seq(t, k)    => MinHashSig(t, intLit(k, "numHashes"))
          case Seq(t, k, s) => MinHashSig(t, intLit(k, "numHashes"), intLit(s, "seed").toLong)
          case _ => throw new IllegalArgumentException(
            s"minhash_sig takes 1-3 arguments, got ${exprs.size}")
        }
      }),
    (
      FunctionIdentifier("kll_sketch_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c)    => KllSketchAgg(c)
        case Seq(c, k) => KllSketchAgg(c, litInt(k, "kll_sketch_agg k"))
        case _ => throw new IllegalArgumentException(
          s"kll_sketch_agg takes 1-2 arguments, got ${exprs.size}")
      }),
    (
      FunctionIdentifier("kll_merge_agg"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_merge_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c)    => KllMergeAgg(c)
        case Seq(c, k) => KllMergeAgg(c, litInt(k, "kll_merge_agg k"))
        case _ => throw new IllegalArgumentException(
          s"kll_merge_agg takes 1-2 arguments, got ${exprs.size}")
      }),
    (
      FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[KllQuantile].getName, "kll_quantile"),
      (exprs: Seq[Expression]) => KllQuantile(exprs(0), exprs(1))),
    (
      FunctionIdentifier("theta_sketch_agg"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "theta_sketch_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c)    => ThetaSketchAgg(c)
        case Seq(c, n) => ThetaSketchAgg(c, litInt(n, "theta_sketch_agg nominal"))
        case _ => throw new IllegalArgumentException(
          s"theta_sketch_agg takes 1-2 arguments, got ${exprs.size}")
      }),
    (
      FunctionIdentifier("theta_union_agg"),
      new ExpressionInfo(classOf[ThetaUnionAgg].getName, "theta_union_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c)    => ThetaUnionAgg(c)
        case Seq(c, n) => ThetaUnionAgg(c, litInt(n, "theta_union_agg nominal"))
        case _ => throw new IllegalArgumentException(
          s"theta_union_agg takes 1-2 arguments, got ${exprs.size}")
      }),
    (
      FunctionIdentifier("theta_estimate"),
      new ExpressionInfo(classOf[ThetaEstimate].getName, "theta_estimate"),
      (exprs: Seq[Expression]) => ThetaEstimate(exprs(0))),
    (
      FunctionIdentifier("theta_intersect"),
      new ExpressionInfo(classOf[ThetaIntersect].getName, "theta_intersect"),
      (exprs: Seq[Expression]) => ThetaIntersect(exprs(0), exprs(1))),
    (
      FunctionIdentifier("theta_a_not_b"),
      new ExpressionInfo(classOf[ThetaANotB].getName, "theta_a_not_b"),
      (exprs: Seq[Expression]) => ThetaANotB(exprs(0), exprs(1))))

  /** Literal-int extractor for function-builder parameters. */
  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
}
