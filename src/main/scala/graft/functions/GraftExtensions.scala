package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: registers graft's native functions.
  *
  * Use either
  *   `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * or programmatically `GraftFunctions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.natives.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => LowerQuadraticArrayOps)
  }
}

object GraftFunctions {
  /** graft's native functions, as both registration paths take them. */
  private[functions] val natives: Seq[
    (FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("bounded_distinct"), BoundedDistinct.info,
      BoundedDistinct.builder),
    (FunctionIdentifier("bounded_distinct_each"), BoundedDistinctEach.info,
      BoundedDistinctEach.builder),
    (FunctionIdentifier("dot_double"), DotProduct.info, DotProduct.builder),
    (FunctionIdentifier("bounded_top_k"), BoundedTopK.info,
      BoundedTopK.builder),
    (FunctionIdentifier("bounded_min_k"), BoundedMinK.info,
      BoundedMinK.builder),
    (FunctionIdentifier("minhash_sigs"), MinHashSig.info, MinHashSig.builder),
    (FunctionIdentifier("array_top_count"), ArrayCounts.topInfo,
      ArrayCounts.topBuilder),
    (FunctionIdentifier("array_distinct_count"), ArrayCounts.distinctInfo,
      ArrayCounts.distinctBuilder),
    (FunctionIdentifier("array_entropy"), ArrayCounts.entropyInfo,
      ArrayCounts.entropyBuilder),
    (FunctionIdentifier("jaccard_long"), JaccardLong.info,
      JaccardLong.builder),
    (FunctionIdentifier("containment_long"), ContainmentLong.info,
      ContainmentLong.builder),
    (FunctionIdentifier("latest_by"), LatestBy.info, LatestBy.builder))

  /** Imperative registration on an existing session (tests, harness).
    * Registers the native functions AND activates
    * [[LowerQuadraticArrayOps]]: `sessionState.optimizer` is frozen
    * once built, but `experimental.extraOptimizations` is the supported
    * post-hoc hook and runs in the optimizer's user-rules batch — so
    * both registration paths (this and the `spark.sql.extensions`
    * conf) yield the same session behavior. The rule self-gates on
    * `spark.graft.lowerArrayOps` (see its scaladoc) for parity/debug
    * sessions that need the un-lowered HOF plan.
    *
    * Idempotent, also from concurrent threads: the rule is appended
    * under the session's `experimental` lock, so it is added exactly
    * once, and the function registry is itself synchronized.
    */
  def register(spark: SparkSession): Unit = {
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(LowerQuadraticArrayOps))
        exp.extraOptimizations = exp.extraOptimizations :+
          LowerQuadraticArrayOps
    }
    natives.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }
}
