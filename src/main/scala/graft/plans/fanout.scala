package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExpressionSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** Hash fan-out of `child` to `n` partitions on `keys` — the logical node
  * behind `graft.ops.T.fan`. It plans to the same exchange as
  * `repartition(n, keys)`, but it is not a `RepartitionByExpression`:
  * `PushPredicateThroughNonJoin` pushes filters only through the unary
  * nodes it knows, so every filter above a fan-out (a user's selective
  * predicate, the `size(…) > 0` filter inferred from an `explode`) stays
  * above the exchange and runs on the fanned partitions. It propagates
  * no constraints, so no filter is inferred below it either. Column
  * pruning still reaches the scan: the output is the child's.
  */
case class FanOut(keys: Seq[Expression], n: Int, child: LogicalPlan) extends UnaryNode {
  require(n >= 1, s"fan-out needs n >= 1, got $n")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected lazy val validConstraints: ExpressionSet = ExpressionSet()
  override protected def withNewChildInternal(newChild: LogicalPlan): FanOut =
    copy(child = newChild)
}

/** Planner rule: FanOut → a `REPARTITION_BY_NUM` hash exchange (exempt
  * from AQE coalescing, as a user repartition is). Registered by
  * `T.fan` through `spark.experimental.extraStrategies`, or by
  * [[GraftExtensions]] at session build. */
object FanOutStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case FanOut(keys, n, child) =>
      ShuffleExchangeExec(HashPartitioning(keys, n), planLater(child), REPARTITION_BY_NUM) :: Nil
    case _ => Nil
  }
}
