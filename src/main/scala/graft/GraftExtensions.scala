package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster-deployment entry point: register graft's custom functions
  * at session build time via
  * `--conf spark.sql.extensions=graft.GraftExtensions`
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`).
  *
  * Equivalent to [[graft.functions.GraftFunctions.register]] but wired
  * through the public SparkSessionExtensions injection API so every
  * session on a cluster — including Thrift/Connect sessions the
  * library never touches directly — sees the functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // The same function table GraftFunctions.register installs: the
    // similarity/dedup operators (GraftOps.simhashPairs, cosineTopK,
    // ivfTopK) resolve these by name, so extension-configured sessions
    // need every one of them.
    graft.functions.GraftFunctions.functions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getCanonicalName, name), build))
    }
    // The HOF dot-product spelling fuses into the codegen'd expression
    // for every session on the cluster — see plans.DotProductFusion.
    e.injectOptimizerRule(_ => graft.plans.DotProductFusion)
    // Magnitude predicates (abs(x) <= k) become pushable range
    // predicates — see plans.AbsRangePushdown.
    e.injectOptimizerRule(_ => graft.plans.AbsRangePushdown)
    // Whole-operator tier: plans the TopKPerGroup logical node as the
    // heap-based partial+final physical operator — see plans.TopKPerGroup.
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}
