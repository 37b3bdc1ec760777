package graftbench

import graft.InferDbPipeline
import graft.core.{LocalScorer, Task}
import graft.featurize.{Featurizer, GeoFeaturizer, OutlierImputer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** One workload: set-up steps, the timed operation loop, and the checks.
  * [[generate]] is repeated during set-up (its checksums must agree);
  * [[build]] runs once. [[prepare]] runs untimed between set-up and the
  * window; [[layers]] only in the traced run. */
trait Workload {
  def generate(run: Run): (Long, Long)
  def build(run: Run): Unit
  def prepare(run: Run): Unit = ()
  /** Timed operations as (operation id, wall ns). */
  def window(run: Run, seconds: Double): Seq[(Long, Double)]
  /** Rows one timed operation serves (for rows_per_s). */
  def rowsPerOp: Double
  def layers(run: Run): Unit = ()
  def checks(run: Run): Unit
}

/** A training table and an index fitted from it. By default the index
  * is `InferDbPipeline.fit` over model predictions that are the
  * generator's noiseless rule (the index memorizes a model's predictions,
  * whatever the model); fit_maintain overrides this with a trained one. */
abstract class ServeBase extends Workload {
  val trainRows = 100000L
  var train: DataFrame = _
  var fitted: InferDbPipeline.Fitted = _
  var scorer: LocalScorer = _
  protected val config = InferDbPipeline.Config(features = Inputs.Features, target = "y",
    task = Task.Classification, maxBins = 8)

  protected def generateTrain(run: Run): (Long, Long) = {
    if (train != null) train.unpersist()
    train = Inputs.table(run.spark, run.seed, 1, trainRows, holdOut = true, run.cores).cache()
    Inputs.checksum(train)
  }

  protected def fitIndex(run: Run): InferDbPipeline.Fitted =
    run.tracer.span("InferDbPipeline.fit")(InferDbPipeline.fit(train, config, "m"))

  /** `df` with the model's class in `__model`. */
  protected def modelClass(df: DataFrame): DataFrame = df.withColumn("__model", Inputs.ruleClass)

  def build(run: Run): Unit = {
    val (f, s) = run.timed(fitIndex(run))
    fitted = f
    run.metric("fit_s", s, "s")
    scorer = run.tracer.span("KvModel.toLocalScorer")(fitted.kv.toLocalScorer)
    run.info("selected") = fitted.selected
  }

  /** 1.0 where the index's class (`__idx` > 0.5) equals the model's. */
  protected val agrees = when((col("__idx") > 0.5) === (col("__model") === 1.0), 1.0).otherwise(0.0)

  /** Share of `df`'s rows where the index's class equals the model's. */
  protected def agreement(df: DataFrame): Double =
    modelClass(fitted.transform(df, "__idx")).agg(avg(agrees)).head().getDouble(0)

  /** Fitted.save bytes; traced, also a timed reload. */
  protected def indexBytes(run: Run): Unit = {
    val dir = run.scratch("index")
    run.tracer.span("Persist.save")(fitted.save(dir))
    run.metric("index_bytes", run.bytesUnder(dir).toDouble, "bytes")
    if (run.traced) run.tracer.span("Persist.load")(InferDbPipeline.load(run.spark, dir))
  }
}

object ServeBase {
  /** Untimed warm-up before the window, in seconds. */
  val WarmUpS = 4.0
}

/** serve_batch: the fused featurize → translate → probe → predicate →
  * group-by query over a cached probe table, on the compiled probe
  * kernel. */
final class ServeBatch(probeRows: Long) extends ServeBase {
  var probe: DataFrame = _
  private var expected: Seq[Row] = _
  private val point = new PointPath

  private val feat: Featurizer =
    OutlierImputer(col("x3"), 0.05, 0.95, lit(0.5))
      .andThen(GeoFeaturizer(col("x4") * 180.0 - 90.0, col("x5") * 360.0 - 180.0, 40.7, -74.0))

  /** Integer aggregates only, so every evaluation is bitwise equal. */
  private def query(probeFn: DataFrame => DataFrame): DataFrame =
    probeFn(feat(probe)).filter(col("prediction") > 0.5)
      .groupBy("f_grid")
      .agg(count(lit(1)).as("n"),
        sum((col("f_imputed") * 1e6).cast("long")).as("s_imp"),
        sum((col("f_dist_km") * 1e3).cast("long")).as("s_dist"))

  private def sorted(rows: Array[Row]): Seq[Row] = rows.toSeq.sortBy(_.getLong(0))

  def generate(run: Run): (Long, Long) = {
    val (tn, tc) = generateTrain(run)
    if (probe != null) probe.unpersist()
    probe = Inputs.table(run.spark, run.seed, 2, probeRows, holdOut = false, run.cores)
      .select(Inputs.Features.map(col): _*).cache()
    val (pn, pc) = Inputs.checksum(probe)
    val (sn, sc) = point.generate(run)
    run.info("inputs") = Json.obj("train_rows" -> tn, "probe_rows" -> pn,
      "train_checksum" -> tc, "probe_checksum" -> pc, "point_pool_tuples" -> point.poolSize,
      "point_stream_tuples" -> sn, "point_zipf_s" -> point.zipfS, "point_checksum" -> sc)
    (tn + pn + sn, tc + pc + sc)
  }

  override def build(run: Run): Unit = {
    super.build(run)
    point.bind(run, fitted, scorer)
    // first serve: plan-embedded kernel set-up and code generation
    query(fitted.transform(_)).collect()
  }

  /** The reference result, then untimed serves to warm the JIT. */
  override def prepare(run: Run): Unit = {
    expected = sorted(query(df => fitted.kv.joinProbe(df, fitted.keyColumn)).collect())
    run.warmUp(ServeBase.WarmUpS)(query(fitted.transform(_)).collect())
  }

  def window(run: Run, seconds: Double): Seq[(Long, Double)] =
    run.closedLoop(seconds, minOps = 5) {
      run.op("fused_query") {
        run.staged(query(fitted.transform(_)))(df => sorted(df.collect()))
      }(_ == expected).isDefined
    }

  def rowsPerOp: Double = probeRows.toDouble

  /** Marginal stage costs from a cumulative ladder on the same cached
    * input: each step adds one stage to the previous one and is
    * evaluated over every column. */
  override def layers(run: Run): Unit = {
    val steps: Seq[(String, () => DataFrame)] = Seq(
      "scan" -> (() => probe),
      "featurize" -> (() => feat(probe)),
      "translate" -> (() => feat(probe).withColumn("__key", fitted.keyColumn)),
      "probe" -> (() => fitted.transform(feat(probe))),
      "fused" -> (() => query(fitted.transform(_))))
    val times = steps.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    for (_ <- 1 to 3; (name, df) <- steps)
      times(name) += run.timed(run.tracer.span(s"serve.$name")(Inputs.checksum(df())))._2
    val m = times.map { case (k, v) => k -> Stats.median(v.toSeq) }
    run.metric("serve.scan_s", m("scan"), "s")
    run.metric("serve.featurize_s", m("featurize") - m("scan"), "s")
    run.metric("serve.translate_s", m("translate") - m("featurize"), "s")
    run.metric("serve.probe_s", m("probe") - m("translate"), "s")
    run.metric("serve.agg_s", m("fused") - m("probe"), "s")
    run.metric("serve.fused_s", m("fused"), "s")
    point.measure(run, PointPath.Seconds)
  }

  def checks(run: Run): Unit = {
    run.check("compiled_probe_equals_join_probe") {
      Inputs.checksum(fitted.transform(probe)) ==
        run.tracer.span("KvModel.joinProbe")(
          Inputs.checksum(fitted.kv.joinProbe(probe, fitted.keyColumn)))
    }
    run.check("local_scorer_equals_transform")(point.check(run))
    run.check("index_bytes") { indexBytes(run); true }
    run.check("kv_hits_and_agreement") {
      val s = scorer
      val level = udf((k: String) => Kv.levelOf(s, k))
      val rows = modelClass(fitted.transform(probe, "__idx").withColumn("l", level(fitted.keyColumn)))
        .groupBy("l").agg(count(lit(1)), sum(agrees))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      Kv.report(run, scorer, rows.map(r => r._1 -> r._2).toMap)
      run.metric("index_model_agreement", rows.map(_._3).sum / probeRows, "ratio")
      rows.map(_._2).sum == probeRows
    }
  }
}
