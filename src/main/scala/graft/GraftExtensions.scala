package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.{ManifestCountRule, ManifestV1StatsRule, OneTaskPresentationSort, ReuseWarehouseBroadcasts}

/** The engine's one install point for Spark session extensions.
  * [[BenchHarness.onCores]] builds every session with it; a session
  * built elsewhere opts in with
  * `spark.sql.extensions=graft.GraftExtensions`. Every session then has
  * the same rules and functions from its first query, whatever it
  * touches first:
  *
  *  - two AQE query-stage-preparation rules: dimension broadcasts over
  *    `Warehouse` leaves built once per warehouse
  *    ([[ReuseWarehouseBroadcasts]]), and presentation sorts over tiny
  *    inputs in one task without a range shuffle
  *    ([[OneTaskPresentationSort]]);
  *  - the manifest metadata-aggregate and V1-statistics rules
  *    ([[ManifestCountRule]], [[ManifestV1StatsRule]]);
  *  - the native SQL functions (`md5_prefix60`, `vec_dot`, `vec_argmin`,
  *    `topk_agg`, `mink_agg`, `bloom_agg`, `bloom_might_contain`,
  *    `z_order2`); each object's `register` adds them to a session built
  *    without the extension, and is a no-op where they exist. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryStagePrepRule(ReuseWarehouseBroadcasts(_))
    ext.injectQueryStagePrepRule(_ => OneTaskPresentationSort)
    ext.injectOptimizerRule(GraftExtensions.armManifestRules)
    Seq(functions.HashExprs.functions, functions.VectorExprs.functions,
      functions.TopKAggExprs.functions, functions.BloomExprs.functions,
      functions.ZOrderExprs.functions).flatten.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  /** A SQL function as `SparkSessionExtensions.injectFunction` takes it. */
  type Function = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  def function[E <: Expression](name: String)(build: Seq[Expression] => E)(
      implicit e: ClassTag[E]): Function =
    (FunctionIdentifier(name), new ExpressionInfo(e.runtimeClass.getName, name), build)

  /** Registers each of `fs` the session's registry lacks, so a session
    * that already has them logs no replacement. */
  def registerAbsent(spark: SparkSession, fs: Seq[Function]): Unit = {
    val registry = spark.sessionState.functionRegistry
    fs.foreach { case (id, _, build) =>
      if (!registry.functionExists(id))
        registry.createOrReplaceTempFunction(id.funcName, build, "built-in")
    }
  }

  /** Both manifest rules must see the plan after the DSv2 scan
    * push-down has settled a catalog read into its scan node, and an
    * injected optimizer rule runs in the operator-optimization batch,
    * before that push-down. So the injected rule is a no-op whose
    * builder, called when the session's optimizer assembles its batches
    * (before any plan is optimized), adds the two rules to the session's
    * user-provided batch, which runs last. */
  private def armManifestRules(spark: SparkSession): Rule[LogicalPlan] = {
    ManifestCountRule.install(spark)
    ManifestV1StatsRule.install(spark)
    Armed
  }

  private object Armed extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan
  }
}
