#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise the spread of each metric.

    python3 perfbench/repeat.py --workload W --seeds 1-10 [--trace 0|1] --out runs.jsonl
    python3 perfbench/repeat.py --summary runs.jsonl [more.jsonl ...]

The first form appends one JSON line per run to --out:
{"workload", "seed", "trace", "wall_s", "result"} with `result` the run's last
output line. The second prints, per workload, trace mode and metric, the
median over the runs and the quartile spread (Q3 - Q1) / median, the figure
BENCHMARK.json's bounds are checked against. With traced and untraced runs
of the same seeds in the files, it also prints the tracing overhead: the
median of each end-to-end metric of the traced runs (read from the run's
result_all.json) minus the untraced median, as a share of the untraced one.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(a):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(a.trace)], cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        if a.trace and res is not None:
            # the traced run's end-to-end figures, for the overhead table
            work = os.path.join(HERE, "out", f"{a.workload}-s{s}-t1", "result_all.json")
            res["all_metrics"] = json.load(open(work))["metrics"]
        rec = {"workload": a.workload, "seed": s, "trace": a.trace,
               "wall_s": round(time.time() - t0, 1), "result": res}
        with open(a.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(json.dumps(rec)[:300], flush=True)


def spread(vals):
    if len(vals) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return (q3 - q1) / med if med else float("nan")


def summary(files):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bound = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    recs = [json.loads(l) for f in files for l in open(f) if l.strip()]
    groups = {}
    for r in recs:
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    for (w, t), rs in sorted(groups.items()):
        ok = [r["result"] for r in rs if r["result"]]
        walls = [r["wall_s"] for r in rs]
        print(f"\n{w} trace={t}: {len(ok)}/{len(rs)} runs, correct {sum(r['correct'] for r in ok)}, "
              f"wall median {statistics.median(walls):.1f} s max {max(walls):.1f} s")
        for m in (ok[0]["metrics"] if ok else {}):
            vals = [r["metrics"][m]["value"] for r in ok]
            b = bound.get(m)
            flag = "" if b is None else (" OVER BOUND" if spread(vals) > b else
                                         (" above bound/3" if spread(vals) > b / 3 else ""))
            print(f"  {m:34s} median {statistics.median(vals):12.4f}  spread {spread(vals):6.3f}"
                  f"{'' if b is None else f'  bound {b}'}{flag}")
    for w in sorted({w for w, _ in groups}):
        plain = [r["result"] for r in groups.get((w, 0), []) if r["result"]]
        traced = [r["result"] for r in groups.get((w, 1), []) if r["result"]]
        if not plain or not traced:
            continue
        print(f"\ntracing overhead on {w} (traced median - untraced median):")
        for m in bound:
            u = statistics.median(r["metrics"][m]["value"] for r in plain)
            tv = statistics.median(r["all_metrics"][m]["value"] for r in traced)
            print(f"  {m:20s} untraced {u:12.4f}  traced {tv:12.4f}  {100 * (tv - u) / u:+7.1f}%")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--summary", nargs="+")
    a = ap.parse_args()
    if a.summary:
        summary(a.summary)
    else:
        run(a)


if __name__ == "__main__":
    main()
