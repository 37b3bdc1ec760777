"""A/A steadiness tool: two sets of runs of one commit should agree.

Record a set (one untraced run per workload and seed), from the repository root:

    python3 graftbench/aa.py run --out A.jsonl --seeds 1-10
    python3 graftbench/aa.py run --out B.jsonl --seeds 11-20

Compare two sets:

    python3 graftbench/aa.py compare A.jsonl B.jsonl

For each workload and end-to-end metric it prints both sets' medians and
quartiles, the spread (distance between the quartiles as a share of the
median, quartiles as statistics.quantiles(values, n=4) gives them), and
whether the sets agree: every spread except setup_s's within the metric's
bound in BENCHMARK.json, and the second median no worse than the first by
more than the bound. It exits 1 when any pair disagrees or any run failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def load_spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def cmd_run(a):
    spec = load_spec()
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    with open(a.out, "a") as out:
        for w in names:
            for s in seeds(a.seeds):
                r = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(s),
                                   "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                                   stdout=subprocess.PIPE, text=True)
                lines = r.stdout.strip().splitlines()
                rec = {"workload": w, "seed": s, "exit": r.returncode}
                if r.returncode == 0 and lines:
                    rec.update(json.loads(lines[-1]))
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(f"{w} seed={s} exit={r.returncode} correct={rec.get('correct')}", file=sys.stderr)


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def cmd_compare(a):
    spec = load_spec()
    sets = []
    for path in (a.first, a.second):
        with open(path) as f:
            sets.append([json.loads(line) for line in f if line.strip()])
    ok = True
    for s in sets:
        bad = [r for r in s if r["exit"] != 0 or not r.get("correct")]
        for r in bad:
            print(f"FAILED RUN {r['workload']} seed={r['seed']} exit={r['exit']}")
        ok &= not bad
    workloads = sorted({r["workload"] for s in sets for r in s})
    print(f"{'workload':13s} {'metric':22s} {'median A':>12s} {'q1..q3 A':>25s} {'spr A':>7s} "
          f"{'median B':>12s} {'q1..q3 B':>25s} {'spr B':>7s} {'B vs A':>7s} {'bound':>6s} verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in s if r["workload"] == w and r.get("correct")]
                    for s in sets]
            if min(len(v) for v in vals) < 2:
                print(f"{w:13s} {m['name']:22s} too few runs")
                ok = False
                continue
            (ma, a1, a3, sa), (mb, b1, b3, sb) = summary(vals[0]), summary(vals[1])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            spread_ok = m["name"] == "setup_s" or (sa <= m["bound"] and sb <= m["bound"])
            agree = spread_ok and worse <= m["bound"]
            ok &= agree
            print(f"{w:13s} {m['name']:22s} {ma:12.6g} {a1:12.6g}..{a3:<12.6g} {sa:7.4f} "
                  f"{mb:12.6g} {b1:12.6g}..{b3:<12.6g} {sb:7.4f} {worse:+7.4f} {m['bound']:6.2f} "
                  f"{'agree' if agree else 'DISAGREE'}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    if not os.path.isfile("BENCHMARK.json"):
        raise SystemExit("aa: run from the repository root")
    cmd_run(a) if a.cmd == "run" else cmd_compare(a)


if __name__ == "__main__":
    main()
