package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** An eager `localCheckpoint` that keeps the partitioning its rows were
  * computed with. `Dataset.localCheckpoint` records the output partitioning
  * of the plan it ran, but under adaptive execution that plan is an
  * `AdaptiveSparkPlanExec`, which reports `UnknownPartitioning`: a frame
  * checkpointed right after a `repartition(n, key)` forgets that it is
  * hash-partitioned on `key`, and every aggregate or join on `key` over it
  * shuffles again. This reads the partitioning and ordering from the final
  * adaptive plan, after the checkpoint job has run, instead. The
  * `LogicalRDD` constructor is Spark-internal, so the bridge lives in
  * Spark's package. */
object GraftCheckpoint {
  def localCheckpoint(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val cp = ds.localCheckpoint(true)
    val ran = ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    cp.logicalPlan match {
      case r: LogicalRDD =>
        classic.Dataset.ofRows(cp.sparkSession,
          r.copy(outputPartitioning = ran.outputPartitioning,
            outputOrdering = ran.outputOrdering)(cp.sparkSession, Some(r.stats), None))
      case _ => cp
    }
  }
}
