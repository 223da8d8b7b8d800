#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line
of standard output (see perfbench/USAGE.md).

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --report --workload W --seed N --seconds S
    python3 perfbench/run.py --smoke
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = build.BENCH
WORKLOADS = ["medallion_bulk", "medallion_incremental", "gold_queries", "curation_dedup"]
RUN_TIMEOUT_S = 170


def run_once(cp, workload, seed, seconds, trace, smoke=False):
    """Run the JVM once; returns (exit code, parsed result or None)."""
    work = BENCH / ".work" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cmd = build.java(cp, work, ["--workload", workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "1" if trace else "0",
                                "--work", str(work), "--out", str(BENCH / "out")]
                     + (["--smoke"] if smoke else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"run: {workload} exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 124, None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    return proc.returncode, json.loads(lines[-1]) if lines else None


def expected_metrics(trace):
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def smoke(cp):
    """Every workload once at the smallest sizes, traced and untraced:
    every named metric printed with its unit, correctness checks pass."""
    bad = []
    for w in WORKLOADS:
        for trace in (False, True):
            code, res = run_once(cp, w, 1, 1, trace, smoke=True)
            want = expected_metrics(trace)
            if code != 0 or res is None or not res["correct"] or res["failed"]:
                bad.append(f"{w} trace={int(trace)}: exit {code}, result {res}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                bad.append(f"{w} trace={int(trace)}: metrics {sorted(got.items())} != {sorted(want.items())}")
            print(f"smoke: {w} trace={int(trace)} ok", file=sys.stderr)
    for b in bad:
        print(f"smoke: FAIL {b}", file=sys.stderr)
    return 1 if bad else 0


def report(cp, workload, seed, seconds):
    """Untraced then traced run of one workload; prints the tracing
    overhead on every end-to-end metric. Per-layer figures and span
    self times are in perfbench/out/."""
    _, plain = run_once(cp, workload, seed, seconds, False)
    _, traced = run_once(cp, workload, seed, seconds, True)
    if plain is None or traced is None:
        return 1
    full = json.loads((BENCH / "out" / f"{workload}-seed{seed}-trace1.json").read_text())
    rows = []
    for name, m in plain["metrics"].items():
        t = full["end_to_end"][name]["value"]
        share = (t - m["value"]) / m["value"] if m["value"] else 0.0
        rows.append({"metric": name, "untraced": m["value"], "traced": t, "unit": m["unit"],
                     "overhead_share": share})
        print(f"{name:30s} {m['value']:12.4f} {t:12.4f} {m['unit']:6s} {share:+.1%}", file=sys.stderr)
    out = {"workload": workload, "seed": seed, "tracing_overhead": rows,
           "per_layer": full["per_layer"]}
    (BENCH / "out" / f"{workload}-seed{seed}-report.json").write_text(json.dumps(out, indent=1))
    print(json.dumps({"correct": plain["correct"] and traced["correct"], "tracing_overhead": rows}))
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--report", action="store_true")
    a = ap.parse_args()
    cp = build.build()
    if a.smoke:
        return smoke(cp)
    if a.workload is None:
        ap.error("--workload is required")
    if a.report:
        return report(cp, a.workload, a.seed, a.seconds)
    code, res = run_once(cp, a.workload, a.seed, a.seconds, bool(a.trace))
    if res is None:
        return code or 1
    print(json.dumps(res))
    return code


if __name__ == "__main__":
    sys.exit(main())
