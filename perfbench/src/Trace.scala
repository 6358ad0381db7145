package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One call into a program layer, opened by the benchmark. Times are epoch
  * milliseconds (fractional) so they share a clock with Spark's job events.
  * `group` ties together every span of one backfill cycle, tail chunk or
  * query execution. */
final case class Span(
    id: Int, name: String, layer: String, group: String, parent: Int,
    start: Double, end: Double) {
  def wall: Double = end - start
}

/** One Spark job, attributed to the span open when it was submitted and to
  * the program module named by its call site. Task counters are summed over
  * every task of the job's stages. */
final class JobRec(
    val jobId: Int, val spanId: Int, val callShort: String,
    val callLong: String, val start: Double) {
  @volatile var end: Double = Double.NaN
  val module: String = Trace.moduleOf(callShort, callLong)
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
}

/** Pure interval arithmetic and call-site attribution. */
object Trace {
  /** Local property carrying the open span id into each submitted job. */
  val SpanProp = "perfbench.span"

  /** Length covered by the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def clip(iv: Seq[(Double, Double)], s: Double, e: Double) =
    iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }

  /** Span wall minus the part of it that its child spans cover. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.wall - unionLength(clip(children.map(c => (c.start, c.end)), span.start, span.end))

  /** Span wall minus the union of its jobs' intervals: driver-side time in
    * which no job of the span was running. */
  def driverGap(span: Span, jobs: Seq[(Double, Double)]): Double =
    span.wall - unionLength(clip(jobs, span.start, span.end))

  /** Envelope of a set of jobs — first start to last end — for modules the
    * benchmark cannot wrap in a span (calls made inside the program). */
  def envelope(jobs: Seq[(Double, Double)]): Double =
    if (jobs.isEmpty) 0.0 else jobs.map(_._2).max - jobs.map(_._1).min

  private val FileAt = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored
  private val Frame = """^\s*(graft\.[A-Za-z0-9_.$]+)\(([A-Za-z0-9_$]+)\.scala:\d+\)""".r

  /** Program module of a job from its call sites: the operator library
    * (`graft.operators`, `graft.queries`) is one module, `operators`; any
    * other program or benchmark frame is named by its source file, e.g.
    * `parquet at Transformer.scala:120` → `Transformer`. */
  def moduleOf(callShort: String, callLong: String): String = {
    val firstGraft = Option(callLong).toSeq.flatMap(_.split("\n"))
      .collectFirst { case Frame(fqcn, file) => (fqcn, file) }
    firstGraft match {
      case Some((fqcn, _)) if fqcn.startsWith("graft.operators.") ||
          fqcn.startsWith("graft.queries.") => "operators"
      case Some((_, file)) => file
      case None => Option(callShort) match {
        case Some(FileAt(file)) if file == "Inventory" || file == "LlmInventory" => "operators"
        case Some(FileAt(file)) => file
        case _ => "unknown"
      }
    }
  }
}

/** Span recorder plus the `SparkListener` that attributes jobs and tasks to
  * spans. Spans are kept in memory and written out once, at run end. Only
  * the driver's main thread opens spans. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis().toDouble
  def now(): Double = millis0 + (System.nanoTime() - nanos0) / 1e6

  private val buf = ArrayBuffer.empty[Span]
  def spans: Seq[Span] = buf.toSeq
  private var stack: List[Int] = Nil
  private var nextId = 1
  var group: String = ""

  private val jobsById = new ConcurrentHashMap[Int, JobRec]()
  private val jobOfStage = new ConcurrentHashMap[Int, JobRec]()

  sc.addSparkListener(this)

  def span[T](name: String, layer: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setLocalProperty(Trace.SpanProp, id.toString)
    val t0 = now()
    try f
    finally {
      buf += Span(id, name, layer, group, parent, t0, now())
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanProp, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Waits until every event posted so far has reached the listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def jobs: Seq[JobRec] = jobsById.values().asScala.toSeq.sortBy(_.jobId)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
    // a SQL job takes the call site of its query execution (adaptive and
    // broadcast jobs are submitted from pool threads with no user frame);
    // any other job that of its result stage, the one with the highest id
    val sql = Option(prop("spark.sql.execution.id")).flatMap(id => Option(sqlCallSites.get(id.toLong)))
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    val (short, long) = sql.getOrElse(
      (result.map(_.name).orNull, result.map(_.details).orNull))
    val rec = new JobRec(e.jobId,
      Option(prop(Trace.SpanProp)).map(_.toInt).getOrElse(0), short, long, e.time.toDouble)
    jobsById.put(e.jobId, rec)
    e.stageIds.foreach(s => jobOfStage.put(s, rec))
  }

  private val sqlCallSites = new ConcurrentHashMap[Long, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlCallSites.put(x.executionId, (x.description, x.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobsById.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = jobOfStage.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) rec.synchronized {
      rec.tasks += 1
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Spans and jobs as one JSON document. */
  def toJson: String = {
    def q(s: String) = if (s == null) "null" else
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"layer":${q(s.layer)},"group":${q(s.group)},""" +
        s""""parent":${s.parent},"start_ms":${s.start},"end_ms":${s.end}}""")
    val jb = jobs.map(j =>
      s"""{"job":${j.jobId},"span":${j.spanId},"module":${q(j.module)},"call_site":${q(j.callShort)},""" +
        s""""start_ms":${j.start},"end_ms":${j.end},"tasks":${j.tasks},"task_cpu_ns":${j.cpuNs},""" +
        s""""gc_ms":${j.gcMs},"shuffle_write_bytes":${j.shuffleWriteBytes},""" +
        s""""spill_bytes":${j.spillBytes},"records_read":${j.recordsRead}}""")
    sp.mkString("{\"spans\":[", ",\n", "],\n") + jb.mkString("\"jobs\":[", ",\n", "]}\n")
  }
}
