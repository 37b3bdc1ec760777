package graftbench

import scala.jdk.CollectionConverters._

import graft.InferDbPipeline
import graft.core.LocalScorer
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** The single-row serve path, measured on serve_batch's index: raw
  * tuples through `Fitted.toLocalScorer` (no Spark), and 64-row
  * micro-batches through `Fitted.transform` plus collect. Tuples come
  * from a seeded pool with Zipf-skewed popularity; a quarter of the pool
  * falls in the corner the training table leaves out. */
final class PointPath {
  val poolSize = 4096
  val streamLen: Int = 1 << 20
  val zipfS = 1.1
  val batchRows = 64
  private var pool: Array[Array[Double]] = _
  private var stream: Array[Int] = _
  private var vals: Array[Seq[Any]] = _
  private var fitted: InferDbPipeline.Fitted = _
  private var scorer: LocalScorer = _
  private var score: Seq[Any] => Double = _
  private val schema = StructType(StructField("rid", IntegerType) +:
    Inputs.Features.map(StructField(_, DoubleType)))

  /** The pool and the request stream; returns (stream tuples, checksum). */
  def generate(run: Run): (Long, Long) = {
    val p = Inputs.table(run.spark, run.seed, 5, poolSize, holdOut = false, 1)
    val (_, pc) = Inputs.checksum(p)
    pool = p.orderBy("id").select(Inputs.Features.map(col): _*).collect()
      .map(r => Array.tabulate(Inputs.Features.length)(r.getDouble))
    stream = Inputs.zipfStream(run.seed, poolSize, zipfS, streamLen)
    (streamLen.toLong, pc + java.util.Arrays.hashCode(stream))
  }

  def bind(run: Run, f: InferDbPipeline.Fitted, s: LocalScorer): Unit = {
    fitted = f
    scorer = s
    val sel = fitted.selected.map(Inputs.Features.indexOf)
    vals = pool.map(t => sel.map(i => t(i): Any))
    score = run.tracer.span("Fitted.toLocalScorer")(fitted.toLocalScorer)
  }

  /** One micro-batch from stream position `from`; true when every
    * prediction equals the local scorer's. */
  private def microBatch(run: Run, from: Int): Boolean = {
    val ids = (0 until batchRows).map(k => stream((from + k) % streamLen))
    val rows = ids.zipWithIndex.map { case (p, k) => Row.fromSeq(k +: pool(p).toSeq) }
    val got = run.staged(fitted.transform(run.spark.createDataFrame(rows.asJava, schema))) {
      _.select("rid", "prediction").collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    }
    got.length == batchRows && got.forall { case (k, v) => v == score(vals(ids(k))) }
  }

  /** `LocalScorer` equals `transform` on eight micro-batches. */
  def check(run: Run): Boolean = (0 until 8).forall(k => microBatch(run, k * batchRows * 97))

  /** point.* metrics: per-tuple latency, key building and lookup timed
    * apart on the same tuples, and micro-batch latency. */
  def measure(run: Run, seconds: Double): Unit = {
    val specs = fitted.selected.map(fitted.bins)
    def key(v: Seq[Any]): String = {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < specs.length) {
        if (i > 0) sb.append('.')
        sb.append(specs(i).binValue(v(i)))
        i += 1
      }
      sb.toString
    }
    val n = 1000000
    val tupleNs, keyNs, lookNs = new Array[Double](n)
    var sink = 0.0
    var i = 0
    while (i < n) {
      val v = vals(stream(i))
      val t0 = System.nanoTime()
      sink += score(v)
      val t1 = System.nanoTime()
      val k = key(v)
      val t2 = System.nanoTime()
      sink += scorer.scoreKey(k)
      tupleNs(i) = (t1 - t0).toDouble
      keyNs(i) = (t2 - t1).toDouble
      lookNs(i) = (System.nanoTime() - t2).toDouble
      i += 1
    }
    run.info("point_sink") = sink
    run.metric("point.tuple_ns_p50", Stats.median(tupleNs.toSeq), "ns")
    run.metric("point.tuple_ns_tail", Stats.tail(tupleNs.toSeq)._2, "ns")
    run.metric("point.key_ns", Stats.median(keyNs.toSeq), "ns")
    run.metric("point.lookup_ns", Stats.median(lookNs.toSeq), "ns")
    var from = 0
    val lat = run.closedLoop(seconds, minOps = 20) {
      from += batchRows
      run.op("micro_batch")(microBatch(run, from))(identity).isDefined
    }.map(_._2)
    run.metric("point.microbatch_ms_p50", Stats.median(lat) / 1e6, "ms")
    run.metric("point.microbatch_ms_tail", Stats.tail(lat)._2 / 1e6, "ms")
    run.info("point_microbatches") = lat.length
  }
}

object PointPath {
  /** Seconds of micro-batches in the traced run. */
  val Seconds = 3.0
}
