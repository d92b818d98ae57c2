package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main. One warmup pass (JIT/codegen/session init) then one
  * measured pass per query. The action is a `noop`-format write, NOT
  * `count()`: under a bare count Catalyst prunes unreferenced projected
  * columns and eliminates the trailing sort, so the very expressions a query
  * exists to measure (ISO parsing, date formatting, JSON extraction, the
  * orderBy) would be optimized away. The noop sink materializes every output
  * column and executes the full plan including the sort, with zero I/O cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // listing mode (no Spark session): tools/quiet_bench.py asks for the
    // key inventory first so it can chunk keys into fresh JVMs — the
    // round-10 judging found a monolithic run inflates late-order keys
    // via in-run JVM/cache contention
    if (sys.env.contains("SPARK_GRAFT_LIST")) {
      val ks = SparkEntry.queries.keys.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val hk = SparkEntry.harnessKeys.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(s"""{"metric":"keys","keys":$ks,"harness_keys":$hk}""")
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val queries = GraftSession.selectedQueries
    val spark = GraftSession.local(cpus)
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // fixed alphabetical key order: Map iteration order reshuffles whenever
    // a key is added, which silently changes every key's predecessor (and
    // therefore its JVM/GC context) between rounds — sorted order keeps
    // per-key numbers comparable across rounds by construction
    val ordered = queries.toSeq.sortBy(_._1)
    // warmup: full pass(es), untimed. One pass suffices inside a multi-key
    // chunk (neighbors amortize JIT); SINGLE-KEY adjudication runs need
    // SPARK_GRAFT_WARMUPS=3 — a lone small key in a cold JVM is otherwise
    // dominated by one-time JIT/codegen costs its chunk run never paid
    // (measured: e_zorder 1.03s at warmups=1 vs 0.38s chunked).
    val warmups = sys.env.get("SPARK_GRAFT_WARMUPS").map(_.toInt).getOrElse(1)
    // A key that throws must not pass silently: a warmup failure is kept
    // for the JSON line (`warmup_errors`), and one in a MEASURED pass must
    // not record its time-to-failure as a latency with rc 0 (the
    // correctness gate catches broken keys, but the bench artifact would
    // silently carry a bogus number) — it goes to `errors` instead.
    val warmupErrors = scala.collection.mutable.Map.empty[String, String]
    val errors = scala.collection.mutable.Map.empty[String, String]
    // control chars (tabs included) are illegal inside JSON strings —
    // flatten them so one exotic message cannot corrupt the line
    def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${
      Option(e.getMessage).getOrElse("").map(c => if (c < ' ') ' ' else c).take(200)}"
    (1 to warmups).foreach { _ =>
      ordered.foreach { case (name, fn) =>
        try runOnce(fn) catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] warmup $name failed: $e")
            warmupErrors(name) = describe(e)
        }
        GraftSession.release(spark)
      }
    }
    // measure: per-query MEDIAN of 3 passes — observed run-to-run noise at
    // sf0.1 is ±1s/query, so a single sample misattributes scheduler/GC
    // hiccups to whichever query they landed on. Each sample also counts
    // the classes Spark generated and compiled while the key ran: a class
    // missing from Spark's 100-entry codegen cache is compiled again on
    // every pass, so a nonzero steady count is time the key spends in the
    // compiler.
    val passes = 3
    val samples = (1 to passes).map { _ =>
      ordered.map { case (name, fn) =>
        val c0 = org.apache.spark.GraftCodegen.compiledClasses
        val t0 = System.nanoTime()
        try runOnce(fn) catch {
          case NonFatal(e) => errors(name) = describe(e)
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        val compiled = org.apache.spark.GraftCodegen.compiledClasses - c0
        GraftSession.release(spark)
        name -> (elapsed, compiled)
      }.toMap
    }
    def median[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.size / 2)
    val results = queries.keys.map(name => name -> median(samples.map(_(name)._1))).toMap
    val compiles = queries.keys.map(name => name -> median(samples.map(_(name)._2))).toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // harness/operator split: harness keys re-execute their constituent
    // operators by design, so their group total grows with composition
    // depth, not operator regressions — report both so a future slowdown
    // stays attributable to the right group
    val harness = results.collect {
      case (k, v) if SparkEntry.harnessKeys(k) => v
    }.sum
    val hk = SparkEntry.harnessKeys.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def jmap(m: scala.collection.Map[String, String]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val cs = compiles.toSeq.sortBy(_._1)
      .map { case (k, n) => jstr(k) + ":" + n }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_harness":$harness,"total_operators":${total - harness},"harness_keys":$hk,"errors":${jmap(errors)},"warmup_errors":${jmap(warmupErrors)},"queries":$qs,"compiled_classes":$cs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
