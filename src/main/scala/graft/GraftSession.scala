package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one SparkSession configuration graft's entry points run under —
  * [[Bench]], [[Verify]], [[PlanDump]], [[Demo]] and the test fixture. */
object GraftSession {

  /** `local[cpus]` with [[graft.plans.GraftExtensions]], `cpus` shuffle
    * partitions, a UTC session time zone, `nanosAsLong` (the events fixture
    * may be TIMESTAMP_NS parquet; harmless for micros), the UI off and the
    * log level at WARN. Returns the existing session if one is active. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[SparkEntry.queries]], narrowed to the comma-separated keys in
    * `SPARK_GRAFT_KEYS` when it is set (a dev-only filter; left unset, a
    * run covers every key). */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_KEYS").map(_.split(',').map(_.trim).toSet) match {
      case Some(ks) => SparkEntry.queries.filter { case (k, _) => ks(k) }
      case None => SparkEntry.queries
    }

  /** Drop everything a query left cached, in TWO layers: `clearCache`
    * drops catalog-tracked DataFrame persists, and the RDD sweep drops
    * localCheckpoint blocks — the iterative operators (CC, PageRank, label
    * propagation, greedy selection) release superseded rounds themselves,
    * but their FINAL round's checkpoint stays alive after the result is
    * consumed, and `clearCache` does not see RDD-level storage. Left in
    * place, that debris accumulates across the key set and whichever key
    * runs next pays its eviction (seen in [[Bench]] as a 3x swing on one
    * composite key). `blocking = true` so the release lands before the
    * next key starts. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
