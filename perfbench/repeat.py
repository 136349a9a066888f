"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/repeat.py --workload relational --seeds 1-10 [--trace 1] [--out runs.jsonl]

Runs ``perfbench/run.py`` once per seed (from the repository root, with
BENCHMARK.json's ``run_seconds``), appends each run's detail and result
records to ``--out`` if given, and prints per metric the median, the
quartiles and the spread (quartile distance over median).  With
``--trace 1`` it also summarizes the end-to-end metrics as measured with
tracing on (``traced.*``), whose difference from an untraced set of runs is
the tracing overhead.  This is how the baselines in
``perfbench/record.json`` were measured.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) < 2:
        return {"median": med, "n": len(values)}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]

    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return proc.returncode
        detail, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
        if args.out:
            with args.out.open("a") as f:
                f.write(json.dumps({"detail": detail, "result": result}) + "\n")
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        if args.trace:  # traced end-to-end values, for the tracing overhead
            for k, v in detail["detail"]["end_to_end"].items():
                values.setdefault(f"traced.{k}", []).append(v)
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}", file=sys.stderr)
    print(json.dumps({k: summarize(v) for k, v in values.items()}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
