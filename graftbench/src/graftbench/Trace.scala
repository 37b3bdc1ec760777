package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Order statistics over timing samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same "inclusive" rule for every
    * metric, so two runs compare like with like). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    if (pos == lo) s(lo) else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
  }

  /** The highest of p50/p75/p90/p95/p99/p99.9 that still has at least
    * ten samples beyond it; p50 when there are too few samples for any
    * higher one. Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ps = Seq(0.5, 0.75, 0.9, 0.95, 0.99, 0.999)
    val p = ps.filter(p => xs.length * (1 - p) >= 10.0 - 1e-9).lastOption.getOrElse(0.5)
    (p * 100, quantile(xs, p))
  }
}

/** One traced interval. `op` groups the spans of one timed operation. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded at every boundary the benchmark calls into graft or
  * Spark. Spans live in memory and are written out once, at the end.
  * When disabled, [[span]] runs the body after one flag check.
  *
  * The innermost open span's id is set as a Spark local property, so the
  * [[JobListener]] can tie each job to the span that caused it. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = Tracer.ids
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new java.util.ArrayDeque[Long]()
  private var currentOp = 0L

  def spans: Seq[Span] = done.asScala.toSeq

  /** Start a new operation id for the spans that follow. */
  def newOp(): Long = { currentOp = ids.incrementAndGet(); currentOp }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = if (stack.isEmpty) 0L else stack.peek()
      val t0 = System.nanoTime()
      stack.push(id)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProp,
          if (stack.isEmpty) null else stack.peek().toString)
        done.add(Span(id, parent, name, currentOp, t0, t1))
      }
    }
}

object Tracer {
  val SpanProp = "graftbench.span"
  /** Span and operation ids, unique across the tracers of a run. */
  private val ids = new AtomicLong(0)

  /** Write spans (with self time: duration minus the part of it that
    * child spans cover) and jobs as JSON lines. */
  def write(out: java.nio.file.Path, spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    val kids = spans.groupBy(_.parent)
    java.nio.file.Files.write(out.resolve("spans.jsonl"), spans.sortBy(_.startNs).map { s =>
      val self = s.durNs - unionNs(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)),
        s.startNs, s.endNs)
      Json.write(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self))
    }.asJava)
    java.nio.file.Files.write(out.resolve("jobs.jsonl"), jobs.sortBy(_.id).map { j =>
      Json.write(Json.obj("job" -> j.id, "span" -> j.span, "module" -> j.module, "site" -> j.site,
        "start_ns" -> j.startNs, "end_ns" -> j.endNs, "stages" -> j.stages, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill))
    }.asJava)
  }

  /** Length of the union of [a, b) intervals, clipped to [lo, hi). */
  def unionNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered
  }
}

/** A finished job with the metrics of its tasks. `module` is the graft
  * source file (without `.scala`) nearest the action in the call site. */
final case class JobRec(id: Int, span: Long, module: String, site: String, startNs: Long,
    endNs: Long, stages: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** Job, stage and task metrics from Spark's listener bus. Times are the
  * JVM's monotonic clock at event delivery, so they compare with span
  * times; the bus is asynchronous, and [[drain]] waits for it before
  * results are read. */
final class JobListener extends SparkListener {
  private final class Acc(val id: Int, val span: Long, val module: String,
      val site: String, val startNs: Long, val stageIds: Set[Int]) {
    var tasks, runMs, gcMs = 0L
    var cpuNs, shuffleRead, shuffleWrite, spill = 0L
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val finished = new ConcurrentLinkedQueue[JobRec]()
  private val events = new AtomicLong(0)
  private val execModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  def jobs: Seq[JobRec] = finished.asScala.toSeq

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val span = Option(js.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    // adaptive-execution stage jobs run on pool threads with no caller
    // frames; they take the module of the SQL execution they belong to
    val own = JobListener.module(js.stageInfos.map(_.details).mkString("\n"))
    val module = if (own != "other") own
      else Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execModule.get(id.toLong))).getOrElse(own)
    val ids = js.stageInfos.map(_.stageId).toSet
    ids.foreach(stageJob.put(_, js.jobId))
    open.put(js.jobId, new Acc(js.jobId, span, module,
      js.stageInfos.headOption.map(_.name).getOrElse(""), System.nanoTime(), ids))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      events.incrementAndGet()
      execModule.put(x.executionId, JobListener.module(x.details))
    case _ =>
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val acc = open.get(stageJob.getOrDefault(te.stageId, -1))
    val m = te.taskMetrics
    if (acc != null && m != null) acc.synchronized {
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    val acc = open.remove(je.jobId)
    if (acc != null) acc.synchronized {
      finished.add(JobRec(acc.id, acc.span, acc.module, acc.site, acc.startNs, System.nanoTime(),
        acc.stageIds.size, acc.tasks.toInt, acc.runMs, acc.cpuNs, acc.gcMs,
        acc.shuffleRead, acc.shuffleWrite, acc.spill))
    }
  }

  /** Wait until no new events arrive for 50 ms (the bus is asynchronous
    * and its drain method is private to Spark). */
  def drain(): Unit = {
    var last = -1L
    while (events.get() != last || !open.isEmpty) {
      last = events.get()
      Thread.sleep(50)
    }
  }
}

object JobListener {
  private val Frame = """\b(graft|graftbench)\.[\w.$]+\(([A-Za-z]+)\.scala:\d+\)""".r

  /** The innermost graft source file in a call site: "bench" when the
    * benchmark's own code ran the action, "other" when the job came from
    * a thread with neither on its stack. */
  def module(callSite: String): String =
    Frame.findFirstMatchIn(callSite).map { m =>
      if (m.group(1) == "graftbench") "bench" else m.group(2)
    }.getOrElse("other")
}

/** Minimal JSON writer: maps keep insertion order; doubles print with
  * every digit Java gives them. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString + ".0"
      else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
