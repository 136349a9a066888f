"""Repository benchmark: one closed-loop client driving heparchy_spark.

    python3 perfbench/run.py --workload {hepstore,llm_pipeline,relational} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root.  Inputs are made from ``--seed``; the
corpus workloads read the sf0.01 test tables of TESTDATA.md from
``$PERFBENCH_DATA`` (default ``perfbench/data``, which holds the tables
``llm_pipeline`` reads; point it at the full test-table directory for
``relational``).  Everything the run writes (Spark scratch, the event log,
the hep store, the span dump) goes under ``.perfbench_work/`` in the
repository root.

The second-to-last stdout line is a JSON detail record (every metric the
workload defines, sizes, sample counts and tail percentiles); the last
line is the result record ``{"correct", "attempted", "failed",
"metrics"}`` with the ``end_to_end`` metrics of BENCHMARK.json when
``--trace 0`` and its ``per_layer`` metrics when ``--trace 1``.  Any error
exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if sys.path and Path(sys.path[0]).resolve() == Path(__file__).resolve().parent:
    sys.path.pop(0)  # keep this directory's module names off the top level
sys.path.insert(0, str(ROOT))

WORKLOADS = ("hepstore", "llm_pipeline", "relational")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        (work / sub).mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable

    from perfbench.workloads import Bench, run_workload

    bench = Bench(
        root=ROOT,
        work=work,
        data=Path(os.environ.get("PERFBENCH_DATA", ROOT / "perfbench" / "data")),
        cores=cores,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
    )
    try:
        detail, result = run_workload(args.workload, bench)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        bench.close()
    print(json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
