package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Test-side view of executed physical plans. */
object ExecutedPlans {

  /** Every node of `p`, into adaptive plans, query stages and subqueries. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(flatten)
  }

  /** The executed plans of every SQL action `body` runs (eager pins
    * included). The listener bus is asynchronous, so a marker action
    * after `body` is awaited: once it is seen, every earlier action has
    * been seen too. */
  def of(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val seen = mutable.Buffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def marker(p: SparkPlan) = p.output.exists(_.name == "__plans_marker")
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("__plans_marker").collect()
      val deadline = System.nanoTime + 60L * 1000000000L
      def marked = seen.synchronized(seen.exists(marker))
      while (!marked && System.nanoTime < deadline) Thread.sleep(20)
      assert(marked, "the marker action never reached the listener")
      seen.synchronized(seen.toSeq).filterNot(marker)
    } finally spark.listenerManager.unregister(listener)
  }
}
