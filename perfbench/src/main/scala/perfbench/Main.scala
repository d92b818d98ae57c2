package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM, driven by `run.py`:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cores <n> --work <dir> --data <dir> --out <result.json>
  * }}}
  *
  * The session is configured like the program's own `graft.Bench`:
  * `GraftExtensions`, `local[cores]`, `spark.sql.shuffle.partitions = cores`,
  * UTC, `nanosAsLong`, UI off. The result (metrics, setup split, operation
  * and failure counts) is written to `--out`; a traced run also writes its
  * spans to `<work>/spans.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cfg = Config(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      work, Paths.get(a("data")).toAbsolutePath, Paths.get(a("out")).toAbsolutePath, a("cores").toInt)
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val b = new Bench(spark, cfg)
    b.result.setup("session_ready_epoch_ms") = System.currentTimeMillis().toDouble
    if (cfg.trace) Trace.install(spark, s"${cfg.workload}-${cfg.seed}")
    try {
      cfg.workload match {
        case "daily_cadence" => PipelineWorkloads.dailyCadence(b)
        case "operator_mix" => MixWorkload.run(b)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val heap = Bench.liveHeapMb(spark)
      b.result.e2e("live_heap_mb") = (heap.last, "MB")
      b.result.samples("live_heap_gc_mb") = heap
      b.result.report("peak_rss_mb") = (Bench.peakRssMb(), "MB")
      Files.write(cfg.out, b.result.toJson.getBytes("UTF-8"))
      if (cfg.trace) Trace.dump(work.resolve("spans.jsonl"))
    } finally spark.stop()
  }
}
