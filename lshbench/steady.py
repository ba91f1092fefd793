#!/usr/bin/env python3
"""Measure how steady the benchmark is: run each workload once per seed and
report, per end-to-end metric, the median, the quartiles and the spread
(inter-quartile distance over the median) next to the metric's bound in
BENCHMARK.json.

    python3 lshbench/steady.py --workloads lsh-serve lsh-churn \
        --seeds 1 2 3 4 5 6 7 8 9 10 --out lshbench/results/steadiness.json

Run from the root of a checkout. Quartiles are Python's
statistics.quantiles(values, n=4). Each run's wall time is recorded too,
since the whole benchmark has to fit a fixed time budget.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    detail = next((json.loads(l[len("detail "):]) for l in lines if l.startswith("detail ")), None)
    tag = f"{workload}-seed{seed}-trace{trace}"
    spans = HERE / "work" / "runs" / tag / f"spans-{tag}.json"
    return {"seed": seed, "exit": p.returncode, "wall_s": round(wall, 2),
            "result": result, "detail": detail,
            "spans": json.loads(spans.read_text()) if trace and spans.is_file() else None}


def summarize(runs, bounds):
    out = {}
    names = sorted({m for r in runs if r["result"] for m in r["result"]["metrics"]})
    for m in names:
        vals = [r["result"]["metrics"][m]["value"] for r in runs
                if r["result"] and m in r["result"]["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[m] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else None,
                  "bound": bounds.get(m), "n": len(vals)}
    return out


def trace_record(runs, untraced):
    """Per-layer metrics and spans of traced runs, plus the tracing
    overhead: each traced end-to-end figure minus the untraced median."""
    out = []
    for r in runs:
        d = r["detail"] or {}
        over = {}
        for m in ("search_p50_ms", "search_qps"):
            t = (d.get("metrics") or {}).get(m, {}).get("value")
            u = untraced.get(m, {}).get("median")
            if t is not None and u:
                over[m] = {"traced": t, "untraced_median": u,
                           "difference": t - u, "share": (t - u) / u}
        out.append({"seed": r["seed"], "exit": r["exit"], "wall_s": r["wall_s"],
                    "layers": d.get("layers"), "metrics": d.get("metrics"),
                    "extra": d.get("extra"), "stamp": d.get("stamp"),
                    "tracing_overhead": over, "spans": r["spans"]})
    return {"runs": out}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--untraced", help="a steadiness record of untraced runs; with "
                    "--trace 1, the tracing overhead is measured against its medians")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    record = {"seconds": seconds, "trace": a.trace, "seeds": a.seeds, "workloads": {}}
    base = json.loads(Path(a.untraced).read_text())["workloads"] if a.untraced else {}
    for w in a.workloads:
        runs = []
        for s in a.seeds:
            r = run(w, s, seconds, a.trace)
            runs.append(r)
            ok = r["result"] is not None and r["result"]["correct"]
            print(f"{w} seed {s}: exit {r['exit']} correct {ok} wall {r['wall_s']}s",
                  file=sys.stderr, flush=True)
        if a.trace:
            record["workloads"][w] = trace_record(runs, base.get(w, {}).get("summary", {}))
            continue
        summary = summarize(runs, bounds)
        record["workloads"][w] = {
            "summary": summary,
            "wall_s": [r["wall_s"] for r in runs],
            "all_correct": all(r["result"] and r["result"]["correct"] for r in runs),
            "runs": [{"seed": r["seed"], "exit": r["exit"], "wall_s": r["wall_s"],
                      "metrics": r["result"] and {k: v["value"] for k, v in r["result"]["metrics"].items()},
                      "stamp": r["detail"] and r["detail"]["stamp"],
                      "extra": r["detail"] and r["detail"]["extra"]} for r in runs]}
        for m, s in summary.items():
            flag = ""
            if s["bound"] is not None and s["spread"] is not None:
                flag = "ok" if s["spread"] < s["bound"] / 3 else (
                    "within bound" if s["spread"] <= s["bound"] else "TOO WIDE")
            print(f"  {w:11s} {m:22s} median {s['median']:12.4f} q1 {s['q1']:12.4f} "
                  f"q3 {s['q3']:12.4f} spread {s['spread'] if s['spread'] is not None else float('nan'):.4f} "
                  f"bound {s['bound']} {flag}", file=sys.stderr)
    if a.out:
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(json.dumps(record, indent=1) + "\n")


if __name__ == "__main__":
    main()
