package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, configured as every
  * entry point is ([[GraftSession.local]]). */
object SparkFixture {
  lazy val spark: SparkSession = GraftSession.local(4)
}
