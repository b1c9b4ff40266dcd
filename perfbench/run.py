#!/usr/bin/env python3
"""Run graft's benchmark workloads.

    python3 perfbench/run.py --workload offline_refresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py                 # all four workloads, one JVM each

Run from the repository root. The first run compiles graft and the benchmark
(see build.py). Each workload runs in its own JVM with Spark local[k]; the
last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

With --trace 1 the run is traced: its per-layer metrics are the result, and
the spans and the per-layer metrics are written to
<build dir>/perfbench/traces/<workload>-<seed>.json. Add --overhead 1 to run
the same seed untraced first and add the tracing overhead (traced vs untraced
end-to-end metrics) to that file and to the output.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["offline_refresh", "online_lookup", "stream_ingest", "corpus_prep"]
JVM_TIMEOUT_S = 170


def cores() -> int:
    """Spark local[k]: k = 3, or fewer on a smaller machine."""
    return max(1, min(3, os.cpu_count() or 1))


def run_jvm(jvm: tuple, workload: str, seed: int, seconds: float, trace_out) -> dict:
    cp, jsa = jvm
    work = build.build_root() / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xshare:on", f"-XX:SharedArchiveFile={jsa}"] + build.jvm_flags(work)
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--work", str(work), "--cores", str(cores())]
    if trace_out is not None:
        cmd += ["--trace", "1", "--trace-out", str(trace_out)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    detail = None
    for l in lines[:-1]:
        if l.startswith("perfbench-detail "):
            detail = json.loads(l[len("perfbench-detail "):])
    if proc.returncode != 0 or not lines or detail is None:
        sys.stderr.write(out)
        raise SystemExit(f"perfbench: {workload} JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    return {"detail": detail, "result": result}


def overhead(untraced: dict, traced: dict) -> dict:
    """Traced over untraced end-to-end metric, as a share: +0.05 reads
    'the traced run measured 5% worse'."""
    out = {}
    for name, m in untraced["metrics"].items():
        t = traced["metrics"].get(name)
        if t is None or not m["value"]:
            continue
        ratio = t["value"] / m["value"]
        out[name] = round((1 / ratio - 1) if name.endswith("_per_s") else (ratio - 1), 4)
    return out


def run_one(jvm: tuple, workload: str, seed: int, seconds: float, trace: bool,
            with_overhead: bool = False) -> dict:
    if not trace:
        r = run_jvm(jvm, workload, seed, seconds, None)
        print("perfbench-detail " + json.dumps(r["detail"]))
        return r["result"]
    path = build.build_root() / "traces" / f"{workload}-{seed}.json"
    plain = run_jvm(jvm, workload, seed, seconds, None) if with_overhead else None
    traced = run_jvm(jvm, workload, seed, seconds, path)
    print("perfbench-detail " + json.dumps(traced["detail"]))
    if plain is not None:
        ov = overhead(plain["detail"], traced["detail"])
        doc = json.loads(path.read_text())
        doc["untraced_run"] = plain["detail"]
        doc["tracing_overhead"] = ov
        path.write_text(json.dumps(doc))
        print("perfbench-trace " + json.dumps({"file": str(path), "tracing_overhead": ov}))
    return traced["result"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--overhead", type=int, choices=[0, 1], default=0,
                    help="with --trace 1: also run untraced and report the tracing overhead")
    a = ap.parse_args()
    jvm = build.build()
    if a.workload:
        print(json.dumps(run_one(jvm, a.workload, a.seed, a.seconds, a.trace == 1, a.overhead == 1)))
        return
    # every workload, each in its own JVM; the summary keys metrics by workload
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        t = time.time()
        r = run_one(jvm, w, a.seed, a.seconds, a.trace == 1, a.overhead == 1)
        print(f"perfbench: {w} done in {time.time() - t:.0f} s: {json.dumps(r)}")
        summary["correct"] = summary["correct"] and r["correct"]
        summary["attempted"] += r["attempted"]
        summary["failed"] += r["failed"]
        for k, v in r["metrics"].items():
            summary["metrics"][f"{w}.{k}"] = v
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
