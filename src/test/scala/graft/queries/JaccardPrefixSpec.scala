package graft.queries

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.functions.IntersectCountSorted

/** `e_jaccard_prefix` claims three things: (1) EXACTNESS — prefix-filtered
  * candidate generation plus verify equals the unfiltered all-pairs truth
  * (the prefix-filter theorem), row for row in (doc_a, doc_b) order;
  * (2) SCALE — the prefix index generates strictly fewer candidate pairs
  * than the full posting join; and (3) the verified pair stage runs ONCE
  * per execution — the output sort does not re-run it. All are graded
  * here; the DuckDB oracle re-checks (1) independently at sf0.01. */
class JaccardPrefixSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"

  test("prefix-filtered output equals the unblocked all-pairs truth") {
    // truth: same bigram sets, candidates = EVERY posting collision (the
    // oracle's formulation), verified with the same integer rule
    import spark.implicits._
    val out = ExtQueries.jaccardPrefix(spark, dir)
    val got = out.as[(Long, Long, Long, Long)].collect().toSeq
    graft.operators.IterStorage.release(out)

    // independent local truth: brute-force over collected bigram sets
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val all = docs ++ docs.map { case (id, t) =>
      (id + 1000000L, t.trim.split("\\s+").drop(5).mkString(" "))
    }
    val P = graft.functions.GraftFunctions.IntModulus
    def h31(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % P
    }
    def bigrams(t: String): Set[Long] = {
      val tk = t.trim.split("\\s+").toSeq
      if (tk.size <= 2) Set(h31(tk.mkString(" ")))
      else tk.map(h31).sliding(2).map { w =>
        ((w(0) * ExtQueries.ShingleC(0)) % P + (w(1) * ExtQueries.ShingleC(1)) % P) % P
      }.toSet
    }
    val sets = all.map { case (id, t) => id -> bigrams(t) }.toMap
    val truth = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size.toLong
      union = (sets(a) | sets(b)).size.toLong
      if 2 * inter >= union
    } yield (a, b, inter, union)).toSeq.sortBy(r => (r._1, r._2))
    assert(truth.nonEmpty)
    assert(got == truth)
  }

  test("each candidate stage prunes: positional <= prefix < full postings") {
    val (positional, prefixCand, fullCand) =
      ExtQueries.jaccardPrefixCandidateCounts(spark, dir)
    assert(prefixCand < fullCand,
      s"prefix filter pruned nothing: $prefixCand vs $fullCand")
    // and it still found every truth pair (subset relation is what the
    // first test pins; here just assert the pruning is material, not ~0)
    assert(prefixCand.toDouble / fullCand < 0.8,
      s"prefix filter pruned <20%: $prefixCand of $fullCand")
    // the positional (min-collision ubound) filter prunes further still —
    // the lever that keeps the verify affordable on a dense small-vocab
    // corpus where the prefix filter alone barely bites (measured 5.8x
    // on the whole key at sf0.1)
    assert(positional < prefixCand,
      s"positional filter pruned nothing: $positional vs $prefixCand")
  }

  test("the verify join runs in exactly one stage, once per execution") {
    // A global sort over an un-shuffled pair pipeline makes Spark's range
    // partitioner sample it in an extra job, which runs the self-join,
    // the pair aggregate and the verify a second time. The verify node's
    // output-row metric is an accumulator: count the stages of this
    // execution that updated it, and its total against the output rows.
    val sc = spark.sparkContext
    val group = s"jaccard-once-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val groupStages = ConcurrentHashMap.newKeySet[Int]()
    val seenGroups = new ConcurrentLinkedQueue[String]()
    val stageAccums = new ConcurrentLinkedQueue[(Int, Set[Long])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == group) e.stageIds.foreach(groupStages.add)
            seenGroups.add(g)
          }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (groupStages.contains(e.stageInfo.stageId))
          stageAccums.add(e.stageInfo.stageId -> e.stageInfo.accumulables.keySet.toSet)
    }
    def inGroup[U](g: String)(f: => U): U = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val df = inGroup(group)(ExtQueries.jaccardPrefix(spark, dir))
      val rows = inGroup(group)(df.collect().length)
      // the listener bus delivers in order: once the marker job is seen,
      // every stage the key ran has been seen too
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!seenGroups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seenGroups.contains(marker), "listener never saw the marker job")

      def verifyNodes(p: SparkPlan): Seq[SparkPlan] = collect(p) {
        case n if n.metrics.contains("numOutputRows") &&
          n.expressions.exists(_.exists(_.isInstanceOf[IntersectCountSorted])) => n
      }
      val verify = verifyNodes(df.queryExecution.executedPlan)
      assert(verify.size == 1, s"expected one verify node, found ${verify.map(_.nodeName)}")
      val metric = verify.head.metrics("numOutputRows")
      val stages = stageAccums.asScala.filter(_._2.contains(metric.id)).map(_._1).toSet
      assert(stages.size == 1, s"verify ran in stages $stages")
      assert(metric.value == rows, s"verify emitted ${metric.value} rows for $rows output rows")
      assert(rows > 0)
      graft.operators.IterStorage.release(df)
    } finally sc.removeSparkListener(listener)
  }
}
