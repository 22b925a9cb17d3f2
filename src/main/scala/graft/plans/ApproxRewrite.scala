package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in optimizer rule: rewrite exact `COUNT(DISTINCT x)` to
  * HyperLogLog++ (`approx_count_distinct`) when the session flag
  * `spark.graft.approx.countDistinct` is true — the "approximation mode"
  * big warehouses ship (trade the distinct's full shuffle of every
  * distinct value for a fixed-size sketch merge; at 100 TB that is the
  * difference between a value-cardinality shuffle and a few KB per
  * partition).
  *
  * This is the custom-`Rule[LogicalPlan]` extension point of the engine
  * (SURVEY §7 preference order (c)): the rewrite happens in the OPTIMIZER,
  * so user code and dialect SQL keep saying `COUNT(DISTINCT …)` and the
  * plan changes underneath. Guard rails: single-column, non-filtered,
  * Complete/Partial-agnostic logical aggregates only; the flag defaults
  * to false so nothing changes unless a session opts in.
  */
object ApproxCountDistinctRule extends Rule[LogicalPlan] {
  val FlagKey = "spark.graft.approx.countDistinct"
  val RsdKey = "spark.graft.approx.countDistinct.rsd"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled =
      try conf.getConfString(FlagKey, "false").toBoolean
      catch { case _: IllegalArgumentException => false }
    if (!enabled) plan
    else {
      // validate HERE with the conf key in the message: a malformed or
      // out-of-range value would otherwise surface as a bare
      // NumberFormatException (or a deep HLL++ error) on EVERY query of
      // the opted-in session
      val raw = conf.getConfString(RsdKey, "0.05")
      val rsd = scala.util.Try(raw.toDouble).toOption
        .filter(v => v > 0.0 && v < 1.0)
        .getOrElse(throw new graft.UnsupportedError(
          s"$RsdKey must be a double in (0, 1), got '$raw'"))
      plan.transformAllExpressions {
        case ae @ AggregateExpression(Count(Seq(child)), _, true, None, _) =>
          AggregateExpression(
            new HyperLogLogPlusPlus(child, rsd),
            Complete, isDistinct = false, filter = None, resultId = ae.resultId)
      }
    }
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — registers the
  * approx rewrite and the as-of join strategy at session build time
  * (`graft.Session` builds every session this way). For an
  * already-running session use [[GraftExtensions.install]], which
  * attaches the same two through the `experimental` hooks.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => ApproxCountDistinctRule)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** Attach the optimizer rule and the planner strategy to a live
    * session (idempotent).
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    val x = spark.experimental
    if (!x.extraOptimizations.contains(ApproxCountDistinctRule))
      x.extraOptimizations = x.extraOptimizations :+ ApproxCountDistinctRule
    if (!x.extraStrategies.contains(AsOfJoinStrategy))
      x.extraStrategies = x.extraStrategies :+ AsOfJoinStrategy
  }

  /** Detach what [[install]] attached. */
  def uninstall(spark: org.apache.spark.sql.SparkSession): Unit = {
    val x = spark.experimental
    x.extraOptimizations = x.extraOptimizations.filterNot(_ == ApproxCountDistinctRule)
    x.extraStrategies = x.extraStrategies.filterNot(_ == AsOfJoinStrategy)
  }
}
