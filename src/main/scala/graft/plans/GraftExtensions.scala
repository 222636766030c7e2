package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.Shim

/** SparkSessionExtensions entry point (SURVEY §4.3's documented extension
  * seam): makes the native expressions available to plain SQL. Activate
  * with `--conf spark.sql.extensions=graft.plans.GraftExtensions` at
  * session build, or call [[GraftExtensions.register]] on a live session
  * (the harness sessions are driver-built, so the scored paths use the
  * Column API directly; SQL registration is exercised in PlanSuite).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => FanOutStrategy)
    ext.injectOptimizerRule(_ => WindowTopKRewrite)
    ext.injectOptimizerRule(_ => CountInSetRewrite)
    ext.injectOptimizerRule(_ => VariantShredPrune)
    // MV substitution (round 19) — exact-match aggregate → fresh MV
    ext.injectOptimizerRule(sess => MvQueryRewrite(sess))
    // V2 view read path (Spark ships the ViewCatalog API unwired —
    // see ResolveGraftViews)
    ext.injectResolutionRule(sess => ResolveGraftViews(sess))
  }
}

object GraftExtensions {
  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductF].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProductF(args(0), args(1)))

  /** Register the functions on an already-built session. */
  def register(spark: SparkSession): Unit =
    Shim.registerFunction(spark, dotFunction._1, dotFunction._2, dotFunction._3)

  /** A sibling session of `spark` carrying the FULL graft extension set
    * (built via [[Shim.sessionWithExtensions]] — injected rules need a
    * sessionState built AFTER injection; the sibling gets its OWN
    * isolated extensions object, the parent's is never touched).
    * The parent's SET session confs at first-call time are copied into
    * the sibling; later parent conf changes do not propagate — set
    * confs on the returned session if needed. MEMOIZED per parent so
    * repeated calls reuse one sibling (sessionState construction is
    * expensive) and injected rule state stays singleton. */
  private val extSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]
  def sessionWith(spark: SparkSession): SparkSession =
    extSessions.synchronized {
      extSessions.computeIfAbsent(spark,
        s => Shim.sessionWithExtensions(s, new GraftExtensions().apply(_)))
    }
}
