package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** State of one benchmark run: the session, the operation ledger, the
  * tracer and listener, and the metrics and check verdicts it reports.
  *
  * Every operation the benchmark attempts goes through [[op]] or
  * [[check]]. A failure is counted, its error text kept, and it never
  * leaves a denominator: a failed timed operation enters the latency
  * samples as +infinity.
  */
final class Run(val spark: SparkSession, val seed: Long, val traced: Boolean,
    val outDir: java.nio.file.Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val listener = new JobListener
  var tracer = new Tracer(spark.sparkContext, enabled = false)
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private var scratchN = 0

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Turn span and job recording on or off (the listener leaves the bus
    * while off, so untraced timing pays nothing for it). */
  def setTracing(on: Boolean): Unit = {
    if (on && !tracer.enabled) {
      spark.sparkContext.addSparkListener(listener)
      tracer = new Tracer(spark.sparkContext, enabled = true)
    } else if (!on && tracer.enabled) {
      listener.drain()
      spark.sparkContext.removeSparkListener(listener)
      tracer = new Tracer(spark.sparkContext, enabled = false)
    }
  }

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (errors.length < 20) errors += s"$what: ${e.getClass.getName}: ${e.getMessage}"
  }

  /** One attempted operation; None when it threw or `verdict` rejected
    * its result. */
  def op[T](name: String)(body: => T)(verdict: T => Boolean): Option[T] = {
    attempted += 1
    try {
      val r = tracer.span(name)(body)
      if (verdict(r)) Some(r)
      else { fail(name, new IllegalStateException("wrong result")); None }
    } catch { case NonFatal(e) => fail(name, e); None }
  }

  /** A named correctness check: counted as an operation, recorded as a
    * verdict. */
  def check(name: String)(ok: => Boolean): Boolean = {
    val r = op(s"check.$name")(ok)(identity).isDefined
    checks(name) = r
    r
  }

  /** Run `one` back to back for `seconds` (at least `minOps` times) and
    * return (operation id, wall ns) per operation, +infinity ns for a
    * failed one. */
  def closedLoop(seconds: Double, minOps: Int)(one: => Boolean): Seq[(Long, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Double)]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (out.length < minOps || System.nanoTime() < end) {
      val id = tracer.newOp()
      val t0 = System.nanoTime()
      val ok = one
      val dt = (System.nanoTime() - t0).toDouble
      out += id -> (if (ok) dt else Double.PositiveInfinity)
    }
    out.toSeq
  }

  /** Untimed warm-up: run `one` for `seconds` so the JIT has compiled
    * the hot paths before the window starts. */
  def warmUp(seconds: Double)(one: => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end) one
  }

  /** A fresh directory for writes, inside the run's output directory. */
  def scratch(name: String): String = {
    scratchN += 1
    outDir.resolve(s"scratch/$scratchN-$name").toString
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of the data files under `dir` (hidden and marker files, such
    * as checksums and _SUCCESS, excluded). */
  def bytesUnder(dir: String): Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.filter(p => java.nio.file.Files.isRegularFile(p))
      .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally walk.close()
  }

  /** Define, plan and execute a query as three spans: the frame-building
    * call, forcing the physical plan, and the action. */
  def staged[T](define: => DataFrame)(action: DataFrame => T): T = {
    val df = tracer.span("define")(define)
    tracer.span("plan")(df.queryExecution.executedPlan)
    tracer.span("execute")(action(df))
  }

  /** End-to-end metrics shared by every workload. `lat` holds operation
    * times in ns; `rowsPerOp` rows served by one operation. */
  def endToEnd(lat: Seq[Double], rowsPerOp: Double): Unit = {
    val p50 = Stats.median(lat)
    val (tp, tail) = Stats.tail(lat)
    metric("latency_ms_p50", p50 / 1e6, "ms")
    metric("latency_ms_tail", tail / 1e6, "ms")
    metric("rows_per_s", rowsPerOp / (p50 / 1e9), "rows/s")
    info("latency_samples") = lat.length
    info("op_ms") = lat.map(x => math.rint(x / 1e3) / 1e3)
    info("latency_tail_percentile") = tp
  }
}
