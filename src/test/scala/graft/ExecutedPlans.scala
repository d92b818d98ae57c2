package graft

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical plans of every action a block runs — eager checkpoints
  * while a key's frame is built, then its collect or write — each as it
  * executed (the final adaptive plan). A plan-shape property of a key whose
  * construction runs jobs holds over all of these, not over the plan of
  * the returned frame alone. */
object ExecutedPlans {
  def of[U](spark: SparkSession)(f: => U): (U, Seq[SparkPlan]) = {
    val marker = s"executed-plans-marker-${java.util.UUID.randomUUID()}"
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    @volatile var sawMarker = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.toString.contains(marker)) sawMarker = true
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = f
      // listener events arrive in order: once the marker action is seen,
      // every action the block ran has been seen too
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker)).collect()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!sawMarker && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sawMarker, "query execution listener never saw the marker action")
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
