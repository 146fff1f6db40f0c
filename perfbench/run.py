"""Benchmark entry point for the vector store.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

One workload runs in this process: set-up, a closed loop with one
client for `--seconds`, result checks against the numpy oracle, then a
summary on stdout whose last line is one JSON object
(`correct`, `attempted`, `failed`, `metrics`). `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
`--workload all` runs every workload untraced and traced, each in a
fresh process, and prints the tracing overhead. perfbench/README.md
lists the metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "distributed_vector_database_spark" / "store.py"
WORKLOADS = ("serve_read", "ingest_churn")


def _result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    from perfbench import gen, metrics
    from perfbench.workloads import Run

    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": cpus,
    })
    tmp_root = ROOT / ".perfbench_tmp"
    tmp = tmp_root / f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    (tmp / "py-tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp / "py-tmp")
    run = Run(workload, seed, gen.Sizes(), str(tmp), trace)
    try:
        try:
            run.setup()
            run.loop(seconds)
            if trace:
                run.batch_phase()
        finally:
            if hasattr(run, "spark"):
                run.close()
        e2e, printed = metrics.end_to_end(run)
        shown = metrics.per_layer(run, e2e) if trace else e2e
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp_root.rmdir()
        except OSError:
            pass

    print(f"# workload={workload} seed={seed} seconds={seconds} trace={int(trace)} "
          f"clients=1 timed_ops={sum(len(v) for v in run.samples.values())}")
    print("# phase seconds: " + " ".join(f"{k}={v:.2f}" for k, v in run.timings.items()))
    for name, (value, unit) in {**e2e, **printed, **metrics.batch(run)}.items():
        print(f"{name:<24} {value:14.4f} {unit}")
    frac = run.failed / run.attempted if run.attempted else 0.0
    print(f"{'ops_failed_frac':<24} {frac:14.4f} {'ratio':<10} {run.failed} of {run.attempted}")
    if trace:
        for name, (value, unit) in shown.items():
            print(f"{name:<44} {value:16.4f} {unit}")
    missing = [name for name, (v, _) in shown.items() if not math.isfinite(v)]
    if missing:
        print(f"perfbench: no measurement for {missing}", file=sys.stderr)
        return 1
    print(_result_line(run.failed == 0, run.attempted, run.failed, shown), flush=True)
    return 0


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, each in a fresh process."""
    combined: dict[str, tuple[float, str]] = {}
    attempted = failed = 0
    correct = True
    for workload in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if proc.returncode != 0 or not lines:
                print(f"perfbench: {workload} trace={trace} exited {proc.returncode}", file=sys.stderr)
                return proc.returncode or 1
            results[trace] = json.loads(lines[-1])
            attempted += results[trace]["attempted"]
            failed += results[trace]["failed"]
            correct = correct and results[trace]["correct"]
        plain, traced = results[0]["metrics"], results[1]["metrics"]
        for name in ("setup_s", "knn_exact_p50_ms", "get_p50_ms"):
            base, with_trace = plain[name]["value"], traced[f"trace.{name}"]["value"]
            pct = 100.0 * (with_trace - base) / base
            print(f"# {workload} tracing overhead on {name}: {base:.4f} -> {with_trace:.4f} ({pct:+.1f}%)")
            combined[f"{workload}.trace_overhead.{name}"] = (pct, "%")
        for name, m in plain.items():
            combined[f"{workload}.{name}"] = (m["value"], m["unit"])
    print(_result_line(correct, attempted, failed, combined), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not ENGINE.is_file():
        print(f"perfbench: engine not found ({ENGINE.relative_to(ROOT)} is missing); "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    try:
        return run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result line
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
