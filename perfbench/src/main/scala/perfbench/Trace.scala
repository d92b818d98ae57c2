package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into the program: name, start, end, parent span and run
  * id, plus the Spark work the listeners attributed to it. */
final class Span(val id: Int, val name: String, val parent: Int, val run: String,
                 val startNs: Long) {
  @volatile var endNs: Long = 0L
  val counters = new ConcurrentHashMap[String, Double]()
  /** task run times (ms) per stage, for the max/median skew */
  val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  def seconds: Double = (endNs - startNs) / 1e9
  def apply(k: String): Double = counters.getOrDefault(k, 0.0)
  def add(k: String, v: Double): Unit = counters.merge(k, v, (a: Double, b: Double) => a + b)
  def max(k: String, v: Double): Unit = counters.merge(k, v, (a: Double, b: Double) => math.max(a, b))

  /** largest max/median task-time ratio over this span's multi-task stages
    * (1.0 when every stage ran a single task) */
  def taskSkew: Double = {
    val ratios = stageTasks.values.asScala.toSeq.map(ts => ts.synchronized(ts.toVector.sorted))
      .filter(_.nonEmpty).map { ts =>
        val med = ts(ts.size / 2).toDouble
        if (med > 0) ts.last / med else 1.0
      }
    if (ratios.isEmpty) 0.0 else ratios.max
  }
}

/** In-memory span recorder. Spans nest on the calling thread; jobs carry the
  * open span's id as a local property (inherited by stream execution
  * threads), and [[SpanListener]] adds each job's stages, tasks, shuffle
  * bytes, spill, peak execution memory and task time to that span. Nothing
  * is recorded while `active` is false, so untraced steps pay only a flag
  * check. Spans are written out once, at the end of the run. */
object Trace {
  val SpanProp = "perfbench.span"
  @volatile var active = false
  @volatile var current: Int = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var runId = ""
  private var spark: SparkSession = _
  private val progress = new ConcurrentHashMap[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]()

  /** The progress reports of one query run, in order. */
  def progressOf(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    Option(progress.get(runId)).map(ps => ps.synchronized(ps.toVector)).getOrElse(Vector.empty)

  def install(s: SparkSession, run: String): Unit = {
    spark = s; runId = run
    s.sparkContext.addSparkListener(new SpanListener)
    s.streams.addListener(new ProgressListener)
  }

  def all: Seq[Span] = spans.synchronized(spans.toVector)
  def byId(id: Int): Option[Span] = spans.synchronized(spans.lift(id))
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Run `body` inside a span when tracing is active; a plain call otherwise. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = spans.synchronized {
        val sp = new Span(spans.size, name, current, runId, System.nanoTime())
        spans += sp; sp
      }
      val prev = current
      current = s.id
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        BenchAccess.drainListeners(sc)
        current = prev
        sc.setLocalProperty(SpanProp, if (prev < 0) null else prev.toString)
      }
    }

  /** Span duration minus the time covered by its direct children. */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val ivs = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** All spans as JSON lines: name, start, end, parent, run id, self time
    * and the attributed counters. */
  def dump(path: java.nio.file.Path): Unit = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val t0 = if (ss.isEmpty) 0L else ss.map(_.startNs).min
    val lines = ss.map { s =>
      val fields = Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
        "run" -> Json.str(s.run), "start_s" -> Json.num((s.startNs - t0) / 1e9),
        "end_s" -> Json.num((s.endNs - t0) / 1e9),
        "self_s" -> Json.num(selfSeconds(s, kids.getOrElse(s.id, Nil))),
        "counters" -> Json.obj(s.counters.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }))
      Json.obj(fields)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(current)

  /** Attributes jobs, stages and task metrics to the span that was open
    * when the job started. A job's site is the callsite of its SQL execution
    * (e.g. `count at Runner.scala:79`, which also covers the jobs adaptive
    * execution submits for it), else its stage name. */
  private class SpanListener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    private val jobs = new ConcurrentHashMap[Int, (Long, Int, String)]()
    private val execSite = new ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if active => execSite.put(x.executionId, x.description)
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val sid = spanOf(e.properties)
      byId(sid).foreach { s =>
        e.stageIds.foreach(stageSpan.put(_, sid))
        val exec = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        val site = exec.flatMap(id => Option(execSite.get(id.toLong)))
          .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")
        jobs.put(e.jobId, (e.time, sid, site))
        s.add("jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (t, sid, site) =>
        byId(sid).foreach { s =>
          val d = (e.time - t) / 1000.0
          s.add("job_s", d)
          s.add(s"job_s@$site", d)
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).flatMap(byId).foreach(_.add("stages", 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).flatMap(byId).foreach { s =>
        val m = e.taskMetrics
        s.add("tasks", 1)
        if (m != null) {
          s.add("task_s", m.executorRunTime / 1000.0)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
          s.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
          val ts = s.stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
          ts.synchronized(ts += m.executorRunTime)
        }
      }
  }

  /** Keeps every streaming progress report, by query run id. */
  private class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) {
        val ps = progress.computeIfAbsent(e.progress.runId, _ => mutable.ArrayBuffer.empty)
        ps.synchronized(ps += e.progress)
      }
  }
}
