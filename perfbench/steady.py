#!/usr/bin/env python3
"""Repeat the benchmark's workloads and report how steady each metric is.

    python3 perfbench/steady.py --runs 10 --seed0 100
    python3 perfbench/steady.py --runs 5 --workloads stream_ingest

Run i uses seed seed0 + i; even runs go through the workloads in order, odd
runs in reverse, so no workload always follows the same neighbour. For every
end-to-end metric of BENCHMARK.json it prints the median, the quartiles
(statistics.quantiles(values, n=4)) and the spread (q3 - q1) / median next to
the metric's bound, and the share of failed operations. The workload-level
metrics each workload prints on its detail line are listed too, without a
bound. Raw results go to <build dir>/perfbench/steady-<seed0>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))
import build  # noqa: E402


def one(workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run([sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"steady: {workload} seed {seed} exited with {p.returncode}")
    detail = next(json.loads(l[len("perfbench-detail "):]) for l in lines
                  if l.startswith("perfbench-detail "))
    return {"result": json.loads(lines[-1]), "detail": detail}


def summary(values: list) -> tuple:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    build.build()
    runs = {w: [] for w in workloads}
    for i in range(a.runs):
        for w in (workloads if i % 2 == 0 else workloads[::-1]):
            r = one(w, a.seed0 + i, a.seconds)
            runs[w].append(r)
            m = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
            print(f"run {i} {w} seed {a.seed0 + i}: correct={r['result']['correct']} "
                  f"attempted={r['result']['attempted']} failed={r['result']['failed']} {m}",
                  flush=True)
    out = build.build_root() / f"steady-{a.seed0}.json"
    out.write_text(json.dumps(runs))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"\n{'workload':16} {'metric':22} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for w in workloads:
        rs = runs[w]
        correct = all(r["result"]["correct"] for r in rs)
        shares = {r["result"]["failed"] / r["result"]["attempted"] for r in rs}
        for name in bounds:
            med, q1, q3, spread = summary([r["result"]["metrics"][name]["value"] for r in rs])
            flag = "" if spread <= bounds[name] / 3 else "  > bound/3"
            print(f"{w:16} {name:22} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} "
                  f"{bounds[name]:6.2f}{flag}")
        for name in rs[0]["detail"]["metrics"]:
            if name in bounds:
                continue
            med, q1, q3, spread = summary([r["detail"]["metrics"][name]["value"] for r in rs])
            print(f"{w:16} {'(' + name + ')':22} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f}")
        print(f"{w:16} all correct: {correct}; failed share per run: {sorted(shares)}")
    print(f"raw results: {out}")


if __name__ == "__main__":
    main()
