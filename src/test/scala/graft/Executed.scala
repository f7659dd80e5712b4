package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The physical plans a piece of code actually executes. */
object Executed {

  /** The executed plan of every successful SQL execution `body` runs, in
    * the order they finished.
    */
  def plans(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq)
  }

  /** Every node of `p`, looking through adaptive plans, query stages and
    * command results to what ran.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case o => o.children ++ o.subqueries
  }).flatMap(nodes)
}
