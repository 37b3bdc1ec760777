package graftbench

import graft.InferDbPipeline
import graft.core.{KvIndexBuilder, KvIndexState, KvModel, Keys, NumericBins, Persist, Task}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** fit_maintain: the index lifecycle. Set-up runs `fitLifecycle` and
  * builds a wide index (four features, 24 fixed bins each) whose ~150k
  * entries exceed the compiled-kernel cap, so it serves through the
  * broadcast-join cascade;
  * its state is saved and reloaded through `Persist`. Each timed round
  * appends a fresh seeded delta to that state, finalizes it with
  * `toModel`, and probes a fixed probe table. Rounds start from the same
  * base state, so they are alike however many fit in the window. */
final class FitMaintain extends ServeBase {
  val baseRows = 200000L
  val deltaRows = 10000L
  val probeRows = 20000L
  val wideFeatures: Seq[String] = Inputs.Features.take(4)
  private val wideBins = NumericBins(Array.tabulate(23)(i => (i + 1) / 24.0))
  private var base: DataFrame = _
  private var probe: DataFrame = _
  private var state: KvIndexState = _
  private var stateDir: String = _
  private var round = 0
  private var trained: InferDbPipeline.Trained = _

  /** The full lifecycle: an LR model trained on the table, then the index
    * fitted from its predictions. */
  override protected def fitIndex(run: Run): InferDbPipeline.Fitted = {
    trained = run.tracer.span("InferDbPipeline.fitLifecycle")(
      InferDbPipeline.fitLifecycle(train, config))
    trained.fitted
  }

  override protected def modelClass(df: DataFrame): DataFrame = {
    val assembled = new VectorAssembler().setInputCols(Inputs.Features.toArray)
      .setOutputCol("__fv").transform(df)
    trained.mlModel.asInstanceOf[org.apache.spark.ml.Transformer].transform(assembled)
      .withColumn("__model", col("__model_pred"))
  }

  private def wideKey: org.apache.spark.sql.Column =
    Keys.keyColumn(wideFeatures.map(f => wideBins.toColumn(col(f))))

  private def keyed(df: DataFrame): DataFrame = df.select(wideKey.as("key"), col("y").as("pred"))

  private def delta(run: Run, i: Int): DataFrame =
    keyed(Inputs.table(run.spark, run.seed, 100 + i, deltaRows, holdOut = false, run.cores))

  def generate(run: Run): (Long, Long) = {
    val (tn, tc) = generateTrain(run)
    Seq(base, probe).filter(_ != null).foreach(_.unpersist())
    base = Inputs.table(run.spark, run.seed, 3, baseRows, holdOut = false, run.cores).cache()
    probe = Inputs.table(run.spark, run.seed, 4, probeRows, holdOut = false, run.cores)
      .select(Inputs.Features.map(col): _*).cache()
    val (bn, bc) = Inputs.checksum(base)
    val (pn, pc) = Inputs.checksum(probe)
    val (dn, dc) = Inputs.checksum(delta(run, 0))
    run.info("inputs") = Json.obj("train_rows" -> tn, "base_rows" -> bn,
      "probe_rows" -> pn, "delta_rows" -> dn, "key_space" -> math.pow(wideBins.numBins, wideFeatures.length).toLong,
      "train_checksum" -> tc, "base_checksum" -> bc, "probe_checksum" -> pc,
      "delta0_checksum" -> dc)
    (tn + bn + pn + dn, tc + bc + pc + dc)
  }

  override def build(run: Run): Unit = {
    super.build(run)
    val built = run.tracer.span("KvIndexState.build")(
      KvIndexState.build(keyed(base), wideFeatures.length, Task.Classification))
    stateDir = run.scratch("state")
    run.tracer.span("Persist.save")(Persist.saveState(built, stateDir))
    val loaded = run.tracer.span("Persist.load")(Persist.loadState(run.spark, stateDir))
    state = loaded.copy(stats = loaded.stats.cache())
    run.info("state_keys") = state.stats.count()
  }

  private def release(m: KvModel): Unit = {
    m.kv.unpersist()
    m.prefixes.foreach(_._2.unpersist())
  }

  private def appendRound(run: Run): Boolean = {
    round += 1
    val d = delta(run, round)
    run.op("append_round") {
      val next = run.tracer.span("KvIndexState.append")(state.append(d))
      val model = run.tracer.span("KvIndexState.toModel")(next.toModel())
      try run.tracer.span("KvModel.joinProbe")(
        run.staged(model.probe(probe, wideKey))(Inputs.checksum))
      finally release(model)
    }(_._1 == probeRows).isDefined
  }

  /** Untimed rounds first: planning and code generation for the joins
    * take about five rounds to reach their steady speed. */
  override def prepare(run: Run): Unit = run.warmUp(FitMaintain.WarmUpS)(appendRound(run))

  def window(run: Run, seconds: Double): Seq[(Long, Double)] =
    run.closedLoop(seconds, minOps = 3)(appendRound(run))

  def rowsPerOp: Double = (deltaRows + probeRows).toDouble

  def checks(run: Run): Unit = {
    run.check("append_equals_rebuild") {
      val appended = state.append(delta(run, 0)).toModel()
      val rebuilt = KvIndexBuilder.buildFromKeyed(
        keyed(base).unionByName(delta(run, 0)), wideFeatures.length, Task.Classification)
      // kv values are means of 0/1 predictions: bitwise. Prefix tables
      // and the global value average those fractional means, which
      // KvIndexState documents as equal only up to floating-point
      // summation order; the largest relative difference is reported.
      val kvSame = Inputs.checksum(appended.kv.select("key", "value")) ==
        Inputs.checksum(rebuilt.kv.select("key", "value"))
      def values(m: KvModel): Map[(Int, String), Double] = m.prefixes.flatMap { case (l, t) =>
        t.select("prefix", "value").collect().map(r => (l, r.getString(0)) -> r.getDouble(1))
      }.toMap + ((0, "") -> m.globalValue)
      val (va, vr) = (values(appended), values(rebuilt))
      val rel = va.map { case (k, a) =>
        vr.get(k).map(b => if (a == b) 0.0 else math.abs(a - b) / math.max(math.abs(a), math.abs(b)))
          .getOrElse(Double.PositiveInfinity)
      }
      val maxRel = if (va.size == vr.size) rel.max else Double.PositiveInfinity
      run.info("append_vs_rebuild") = Json.obj("kv_bitwise" -> kvSame,
        "fallback_values" -> va.size, "fallback_bitwise" -> rel.count(_ == 0.0),
        "fallback_max_rel_diff" -> maxRel)
      val same = kvSame && maxRel <= 1e-12
      val local = run.tracer.span("KvModel.toLocalScorer")(appended.toLocalScorer)
      val keys = probe.select(wideKey).collect().map(_.getString(0))
      Kv.report(run, local, keys.groupBy(Kv.levelOf(local, _)).map { case (l, xs) => l -> xs.length.toLong })
      release(appended); release(rebuilt)
      same
    }
    run.check("index_model_agreement") {
      run.metric("index_model_agreement", agreement(probe), "ratio"); true
    }
    run.check("index_bytes") {
      run.metric("index_bytes", run.bytesUnder(stateDir).toDouble, "bytes"); true
    }
  }
}

object FitMaintain {
  /** Untimed warm-up before the window, in seconds. */
  val WarmUpS = 8.0
}
