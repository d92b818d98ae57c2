package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Run settings, from the command line of [[Main]]. */
final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, data: Path, out: Path, cores: Int)

/** What a run reports: the end-to-end metrics, the workload's own named
  * figures (with sample counts), the per-layer metrics of a traced run, and
  * the operation/failure tally. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val setup = mutable.LinkedHashMap.empty[String, Double]
  /** wall time of the run's phases after set-up (not part of any metric) */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  /** raw per-operation times behind each reported timing, in run order */
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def toJson: String = {
    def m(xs: mutable.LinkedHashMap[String, (Double, String)]) = Json.obj(xs.toSeq.map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    Json.obj(Seq(
      "attempted" -> Json.num(attempted.toLong), "failed" -> Json.num(failed.toLong),
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "setup" -> Json.obj(setup.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "phases" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "samples" -> Json.obj(samples.toSeq.map { case (k, xs) => k -> Json.arr(xs.map(Json.num)) }),
      "metrics" -> m(e2e), "report" -> m(report), "per_layer" -> m(layer)))
  }
}

/** Shared state and helpers of one benchmark run. */
final class Bench(val spark: SparkSession, val cfg: Config) {
  val result = new Result

  def dir(name: String): String = {
    val p = cfg.work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  /** One operation of the workload: counted as attempted, and as failed if
    * it throws (the error is kept; fatal JVM errors are not caught). */
  def op[T](what: String)(body: => T): Option[T] = {
    result.attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }

  /** A correctness check: counted as attempted, failed when `ok` is false. */
  def check(what: String)(ok: => Boolean, detail: => String = ""): Unit = {
    op(what)(ok) match {
      case Some(false) => fail(s"$what: mismatch $detail".trim)
      case _ => ()
    }
  }

  private def fail(msg: String): Unit = {
    result.failed += 1
    result.failures += msg
  }

  /** Drop cached frames and RDD blocks between operations (outside timing). */
  def teardown(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Bench {
  def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Median with its sample count, plus the highest of p90/p95/p99 that
    * still has at least 10 samples beyond it. */
  def timing(r: Result, name: String, xs: Seq[Double]): Unit = {
    r.samples(name) = xs
    r.report(s"${name}_p50_s") = (median(xs), "s")
    r.report(s"$name.n") = (xs.size.toDouble, "count")
    Seq(99, 95, 90).find(p => xs.size * (100 - p) / 100.0 >= 10).foreach { p =>
      val s = xs.sorted
      r.report(s"${name}_p${p}_s") = (s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1)), "s")
    }
  }

  /** Tracing cost from alternately traced steps: the geometric mean, over
    * traced steps, of each one's time over the mean of its untraced
    * neighbours (neighbours cancel a warm-up trend along the sequence). */
  def overheadRatio(steps: Seq[Double], traced: Seq[Boolean]): Double =
    geomean(steps.indices.filter(traced).flatMap { i =>
      val ns = Seq(i - 1, i + 1).filter(j => steps.indices.contains(j) && !traced(j)).map(steps)
      if (ns.isEmpty) None else Some(steps(i) / (ns.sum / ns.size))
    })

  /** Total bytes and regular-file count under `root` (0 when absent). */
  def treeSize(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try {
        val files = st.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_")).toArray.map(_.asInstanceOf[Path])
        (files.map(Files.size).sum, files.length.toLong)
      } finally st.close()
    }
  }

  /** Heap still occupied after full collections: the data the program
    * keeps once the workload is done (with the heap fixed at its maximum
    * size, resident memory says little about it). The first collection
    * leaves objects that only Spark's context cleaner and the JVM's cleaners
    * release once they have run, so it collects, drains the listener bus and
    * pauses until two readings agree within 0.5 MB (3 to 8 collections).
    * Returns every reading; the last is the settled one. */
  def liveHeapMb(spark: SparkSession): Seq[Double] = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val xs = mutable.ArrayBuffer.empty[Double]
    def settled = xs.size >= 3 && math.abs(xs.last - xs(xs.size - 2)) < 0.5
    while (xs.size < 8 && !settled) {
      System.gc()
      xs += mem.getHeapMemoryUsage.getUsed / 1048576.0
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      Thread.sleep(300)
    }
    xs.toSeq
  }

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  def peakRssMb(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    }.getOrElse(0.0)
}
