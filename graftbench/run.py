"""The graft benchmark's one command. From the repository root:

    python3 graftbench/run.py --workload serve_batch --seed 1 --seconds 15 --trace 0

Builds graft and the benchmark (graftbench/build.py), runs one workload in
one JVM with Spark as local[nproc], prints every metric with its unit and
every correctness verdict, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"} -- the end-to-end metrics
listed in BENCHMARK.json with --trace 0, the per-layer ones with --trace 1.
Per-layer metrics of a layer the workload does not reach read 0.

The run's result.json, spans.jsonl and jobs.jsonl stay in
.bench_build/last/<workload>-trace<t>/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.getcwd()
WORKLOADS = ("serve_batch", "fit_maintain")
RUN_LIMIT_S = 170  # every run must end within 180 s


def heap():
    """A third of MemTotal, between 2 and 6 GiB."""
    gib = 8
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                gib = int(line.split()[1]) // (1024 * 1024)
    return f"{min(6, max(2, gib // 3))}g"


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        raise SystemExit("run: BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    t0 = time.time()
    cp, build_s = build.build()
    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(run_dir, d))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(os.cpu_count()), SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               SPARK_LOCAL_IP=env.get("SPARK_LOCAL_IP", "127.0.0.1"))
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           # traced runs keep whole call sites, so jobs inside MLlib still reach a graft frame
           (["-Dspark.callstack.depth=1000"] if a.trace else []) + ADD_OPENS +
           ["-cp", os.pathsep.join(cp), "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", os.path.join(run_dir, "out")])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            p.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - t0 - build_s)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    result_path = os.path.join(run_dir, "out", "result.json")
    if p.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"run: benchmark JVM failed (exit {p.returncode})")
    with open(result_path) as f:
        res = json.load(f)

    last = os.path.join(build.BUILD, "last", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(last)
    for name in ("result.json", "spans.jsonl", "jobs.jsonl"):
        src = os.path.join(run_dir, "out", name)
        if os.path.exists(src):
            shutil.copy(src, last)
    shutil.rmtree(run_dir, ignore_errors=True)

    got = res["metrics"]
    out, missing = {}, []
    for m in wanted:
        if m["name"] in got:
            v = got[m["name"]]
            if v["unit"] != m["unit"]:
                raise SystemExit(f"run: {m['name']} reported in {v['unit']}, BENCHMARK.json says {m['unit']}")
            if v["value"] is None:
                raise SystemExit(f"run: {m['name']} has no value (every operation failed?)")
            out[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        elif a.trace:
            missing.append(m["name"])
            out[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            raise SystemExit(f"run: the benchmark did not report {m['name']}")

    print(f"graftbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cores={res['cores']} build_s={build_s:.1f}")
    for k, v in got.items():
        print(f"  {k:40s} {v['value']!s:>24} {v['unit']}")
    if missing:
        print(f"  not reached on this workload (reported as 0): {', '.join(missing)}")
    for k, ok in res["checks"].items():
        print(f"  check {k}: {'ok' if ok else 'FAILED'}")
    for e in res["errors"]:
        print(f"  error: {e}")
    print("  info: " + json.dumps({k: v for k, v in res["info"].items() if k != "op_ms"}, sort_keys=True))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
