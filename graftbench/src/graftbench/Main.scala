package graftbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point. Usage:
  * {{{
  * graftbench.Main --workload <serve_batch|fit_maintain>
  *   --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  * Writes `<dir>/result.json` (every metric with its unit, the checks,
  * the input properties) and, traced, `<dir>/spans.jsonl` and
  * `<dir>/jobs.jsonl`.
  *
  * Untraced, the window is timed with no listener on the bus and the
  * end-to-end metrics are reported. Traced, set-up runs with spans and
  * the job listener on, the window is split into an untraced half and a
  * traced half, and the per-layer metrics come from the traced half;
  * the ratio of the two halves' median operation times is the tracing
  * overhead.
  */
object Main {
  val GenerateReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = Paths.get(opts("out"))
    Files.createDirectories(out)
    val workload: Workload = name match {
      case "serve_batch" => new ServeBatch(probeRows = 1000000L)
      case "fit_maintain" => new FitMaintain
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("graftbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val run = new Run(spark, seed, traced, out)
      run.setTracing(traced)
      val gens = (1 to GenerateReps).map(_ => run.timed(run.tracer.span("setup.generate")(workload.generate(run))))
      val buildS = run.timed(run.tracer.span("setup.build")(workload.build(run)))._2
      val generateS = Stats.median(gens.map(_._2))
      run.check("inputs_repeat_bitwise")(gens.map(_._1).distinct.length == 1)
      run.check("other_seed_differs") {
        Inputs.checksum(Inputs.table(spark, seed + 1, 1, 10000, holdOut = false, 1)) !=
          Inputs.checksum(Inputs.table(spark, seed, 1, 10000, holdOut = false, 1))
      }
      run.info("setup") = Json.obj("session_s" -> sessionS, "generate_s" -> gens.map(_._2),
        "build_s" -> buildS)
      run.metric("setup_s", sessionS + generateS + buildS, "s")
      run.listener.drain()
      val setupJobs = run.listener.jobs
      workload.prepare(run)

      val setupSpans = run.tracer.spans
      if (!traced) run.endToEnd(workload.window(run, seconds).map(_._2), workload.rowsPerOp)
      else {
        Layers.modules(run, setupJobs)
        run.setTracing(false)
        val plain = workload.window(run, seconds / 2).map(_._2)
        run.setTracing(true)
        val ops = workload.window(run, seconds / 2)
        run.listener.drain()
        Layers.spark(run, run.tracer.spans, run.listener.jobs, ops.toMap)
        run.endToEnd(ops.map(_._2), workload.rowsPerOp)
        run.metric("trace.overhead_ratio",
          Stats.median(ops.map(_._2)) / Stats.median(plain) - 1.0, "ratio")
        workload.layers(run)
      }
      workload.checks(run)
      if (traced) {
        run.listener.drain()
        val spans = setupSpans ++ run.tracer.spans
        Layers.calls(run, spans)
        run.metric("trace.spans", spans.length.toDouble, "count")
        run.metric("trace.jobs", run.listener.jobs.length.toDouble, "count")
        Tracer.write(out, spans, run.listener.jobs)
      }
      run.metric("ops_ok_ratio", (run.attempted - run.failed).toDouble / run.attempted, "ratio")
      val result = Json.obj(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "cores" -> run.cores,
        "correct" -> (run.failed == 0 && run.checks.values.forall(identity)),
        "attempted" -> run.attempted, "failed" -> run.failed,
        "errors" -> run.errors.toSeq, "checks" -> run.checks,
        "metrics" -> run.metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
        "info" -> run.info)
      Files.write(out.resolve("result.json"), Json.write(result).getBytes("UTF-8"))
    } finally spark.stop()
  }
}
