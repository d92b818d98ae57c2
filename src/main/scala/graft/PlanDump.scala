package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: write each named query's `.explain("formatted")` output to
  * `<outDir>/<key>_<tag>.txt` — the before/after plan evidence the
  * optimization rounds commit under `plans/rNN/`. Run:
  * `sbt "runMain graft.PlanDump <outDir> <tag> key [key ...]"`.
  *
  * Each key also prints one line: plan length, Exchange mentions and its
  * distinct parquet scans; the PushedFilters and ReadSchema of every scan
  * are in the written plan file.
  *
  * The session is [[GraftSession.local]], as in [[Bench]], and each key
  * builds the same frame Bench and Verify build. Explain itself is
  * driver-side, but CONSTRUCTING some frames runs jobs: the Louvain keys
  * eagerly localCheckpoint their substrates, so a dump executes those pin
  * jobs.
  * AQE nodes show the initial plan — the Exchange/join-strategy shape the
  * optimizer chose, which is what the plan pins assert about. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> key [key ...]")
    val (outDir, tag, keys) = (args(0), args(1), args.drop(2).toSeq)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- keys) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val p = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      val exchanges = "Exchange".r.findAllIn(plan).size
      // DISTINCT node ids: formatted mode reprints a node wherever its
      // subtree appears (e.g. inside each InMemoryRelation), so raw line
      // counts overstate scans for persisted plans
      val scans = """\((\d+)\) Scan parquet""".r
        .findAllMatchIn(plan).map(_.group(1)).toSet.size
      println(s"$name: ${plan.linesIterator.size} lines, ~$exchanges Exchange mentions, " +
        s"$scans parquet scans -> $p")
    }
    spark.stop()
  }
}
