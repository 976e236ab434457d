package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.graftbridge.Bridge

/** Scan spreading: the rows of a marked relation are dealt round-robin
  * over the session's cores before the per-row kernel work above it,
  * which a file scanned as a few splits would otherwise run in a few
  * tasks. The width is derived, never written into a query, as Hive
  * derives a stage's reducers from its input and the cluster
  * (`Utilities.estimateNumberOfReducers`): `defaultParallelism` is the
  * local core count, or the total executor cores on a cluster.
  *
  * A query marks a relation with the width-free `/*+ REPARTITION */`,
  * a block comment to DuckDB, so the oracle shares the text. `Spread` is
  * a node of its own because the optimizer pushes filters through
  * Spark's repartition: a kernel filter written or inferred above the
  * mark would run in the scan stage. No rule pushes through `Spread`.
  */
case class Spread(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): Spread = copy(child = c)
}

object Spread {
  private val hint: PartialFunction[LogicalPlan, LogicalPlan] = {
    case RepartitionByExpression(Nil, c, None, _) => Spread(c)
  }

  /** `df` with each width-free REPARTITION hint of its analyzed plan
    * (CTE bodies and subqueries included) planned as a `Spread`, or
    * `df` itself when it has none. The rewrite is of the analyzed plan:
    * the parsed plan keeps CTE bodies out of reach, and the optimizer
    * has already pushed filters through a repartition in a subquery
    * before a later rule could see it. */
  def hints(df: DataFrame): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    if (analyzed.collectWithSubqueries(hint).isEmpty) df
    else rows(df.sparkSession, analyzed.transformUpWithSubqueries(hint))
  }

  /** `df`'s rows spread over the session's cores. */
  def over(df: DataFrame): DataFrame =
    rows(df.sparkSession, Spread(df.queryExecution.analyzed))

  private def rows(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    if (!spark.experimental.extraStrategies.contains(Planner))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ Planner
    Bridge.ofRows(spark, plan)
  }

  /** The exchange Spark plans for `REPARTITION(n)` at n =
    * `defaultParallelism`: `REPARTITION_BY_NUM`, which AQE never
    * coalesces. */
  object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Spread(c) =>
        val width = SparkSession.active.sparkContext.defaultParallelism
        ShuffleExchangeExec(RoundRobinPartitioning(width), planLater(c), REPARTITION_BY_NUM) :: Nil
      case _ => Nil
    }
  }
}
