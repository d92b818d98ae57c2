package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The number of classes Spark's code generator has compiled in this JVM
  * so far: the sample count of its compilation-time histogram, one per
  * compile, that is, one per codegen cache miss. `CodegenMetrics` is
  * `private[spark]`, so this bridge lives in Spark's package. */
object GraftCodegen {
  def compiledClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
