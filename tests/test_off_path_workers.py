"""Queries whose Python workers cannot import ``heparchy_spark``.

A driver that has the repository on its own ``sys.path`` only (not on
``PYTHONPATH``, and run from a directory outside the repository) starts
Python workers that cannot import the package.  Every function those
workers run must travel by value: ``functions.worker`` closures and the
``functions.xxh64`` kernels registered with cloudpickle.  The subprocess
runs ``text_fingerprints`` and ``dedup_minhash_lsh_pairs`` there, and
their rows must equal the plain-Python expected fixtures of
``tools/build_expected.py`` (run in this session instead, the
dedup query would leave its persisted frames in the shared session's
cache, where later builds of related queries pick them up)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.01"
NAMES = ["text_fingerprints", "dedup_minhash_lsh_pairs"]

_RUN = textwrap.dedent(
    """
    import json, sys

    root, sf, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sys.path.insert(0, root)
    from heparchy_spark.queries import spark_queries
    from heparchy_spark.session import get_spark

    def probe(batches):
        import importlib.util

        import pandas as pd

        for _ in batches:
            pass
        found = importlib.util.find_spec("heparchy_spark") is not None
        yield pd.DataFrame({"found": [found]})

    spark = get_spark("off-path-test", master="local[2]", shuffle_partitions=2)
    found = spark.range(1).mapInPandas(probe, "found boolean").collect()
    out = {"worker_finds_package": found[0].found}
    for name in names:
        rows = spark_queries()[name](spark, sf).collect()
        out[name] = [r.asDict() for r in rows]
    spark.stop()
    print("RESULT " + json.dumps(out))
    """
)


def _rows(rows):
    return sorted(tuple(sorted(r.items())) for r in rows)


def test_queries_run_where_workers_cannot_import_the_package(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _RUN, str(ROOT), SF, *NAMES],
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-3000:]
    line = [
        ln for ln in proc.stdout.decode().splitlines() if ln.startswith("RESULT ")
    ][-1]
    got = json.loads(line.removeprefix("RESULT "))
    assert got.pop("worker_finds_package") is False  # the premise holds
    for name in NAMES:
        want = pq.read_table(ROOT / f"tests/fixtures/expected_sf0_01/{name}.parquet")
        assert want.num_rows, name
        assert _rows(got[name]) == _rows(want.to_pylist()), name
