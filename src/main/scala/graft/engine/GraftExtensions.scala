package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.{CollectCappedLongs, CosineSimilarity, DotProduct, HyperplaneBands, MinHashSketch, SimHashSketch, SortedIntersectCount}

/** Session-extension entry point (SURVEY §7: register custom pieces
  * via `SparkSessionExtensions`). Enable with
  * `spark.sql.extensions=graft.engine.GraftExtensions` or
  * `GraftSession(routed = true)`.
  *
  * Injects the native expression library (graft_cosine,
  * graft_hyperplane_bands) and the learned-plan-choice planner
  * strategy ([[graft.plans.LearnedPlanStrategy]] — dormant until a
  * model is installed via [[graft.plans.PlanChoice.install]]);
  * `Tables.registerAll` also registers the same functions directly so
  * sessions created without the conf still resolve them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier(CosineSimilarity.name),
      CosineSimilarity.info, CosineSimilarity.builder))
    ext.injectFunction((FunctionIdentifier(HyperplaneBands.name),
      HyperplaneBands.info, HyperplaneBands.builder))
    ext.injectFunction((FunctionIdentifier(DotProduct.name),
      DotProduct.info, DotProduct.builder))
    ext.injectFunction((FunctionIdentifier(CollectCappedLongs.name),
      CollectCappedLongs.info, CollectCappedLongs.builder))
    ext.injectFunction((FunctionIdentifier(SortedIntersectCount.name),
      SortedIntersectCount.info, SortedIntersectCount.builder))
    ext.injectFunction((FunctionIdentifier(MinHashSketch.name),
      MinHashSketch.info, MinHashSketch.builder))
    ext.injectFunction((FunctionIdentifier(SimHashSketch.name),
      SimHashSketch.info, SimHashSketch.builder))
    ext.injectPlannerStrategy(session => graft.plans.LearnedPlanStrategy(session))
  }
}
