"""``functions.worker.worker_fn``: lazy zipimport invalidation for reused
Python workers.

The first test needs no Spark: a subprocess that cannot import
``heparchy_spark`` unpickles a wrapped function and calls it, then counts
the archive directory reads of ``importlib.invalidate_caches()``.  The
second runs two tasks in one reused worker of a ``local[1]`` session and
counts the directory reads between them."""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

from pyspark import cloudpickle

from heparchy_spark.functions.worker import worker_fn

ROOT = Path(__file__).resolve().parent.parent

_UNPICKLE_AND_COUNT = textwrap.dedent(
    """
    import importlib, inspect, json, pickle, sys, zipfile, zipimport

    try:
        import heparchy_spark  # noqa: F401
        importable = True
    except ImportError:
        importable = False
    archive = sys.argv[1] + "/mods.zip"

    def write(version):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod.py", f"VERSION = {version}\\n")

    write(1)
    sys.path.insert(0, archive)
    import zmod

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = counting
    native = hasattr(zipimport.zipimporter, "_get_files")
    importlib.invalidate_caches()
    before = len(reads)
    task = pickle.loads(sys.stdin.buffer.read())
    out = task(3)
    reads.clear()
    importlib.invalidate_caches()
    after = len(reads)
    write(2)
    del sys.modules["zmod"]
    import zmod

    print(json.dumps({
        "importable": importable, "native": native, "before": before,
        "after": after, "out": out, "args": inspect.getfullargspec(task).args,
        "version": zmod.VERSION, "reads_on_import": len(reads),
    }))
    """
)


def test_lazy_invalidation_reads_no_directory_and_pickles_by_value(tmp_path):
    def double(x):
        return 2 * x

    blob = cloudpickle.dumps(worker_fn(double))
    proc = subprocess.run(
        [sys.executable, "-I", "-c", _UNPICKLE_AND_COUNT, str(tmp_path)],
        input=blob,
        capture_output=True,
        cwd=tmp_path,
        check=True,
    )
    got = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert not got["importable"]  # the wrapper travelled by value
    assert got["out"] == 6 and got["args"] == ["x"]
    if not got["native"]:
        assert got["before"] >= 1  # eager invalidation re-reads the archive
    assert got["after"] == 0
    # the rewritten archive is re-read once, on the next import from it
    assert got["version"] == 2 and got["reads_on_import"] == 1


def test_wrapper_keeps_name_and_arity():
    def grouped(key, pdf):
        return pdf

    w = worker_fn(grouped)
    assert w.__name__ == "grouped"
    assert inspect.getfullargspec(w).args == ["key", "pdf"]
    assert w(1, "x") == "x"


_TWO_TASKS = textwrap.dedent(
    """
    import json

    import pandas as pd

    from heparchy_spark.functions.worker import worker_fn
    from heparchy_spark.session import get_spark

    def probe(batches):
        import os, zipimport

        reads = zipimport.__dict__.setdefault("_probe_reads", [])
        if not hasattr(zipimport, "_probe_real"):
            zipimport._probe_real = zipimport._read_directory

            def counting(path):
                reads.append(path)
                return zipimport._probe_real(path)

            zipimport._read_directory = counting
        n = len(reads)
        reads.clear()
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [n]})

    spark = get_spark("worker-fn-test", master="local[1]", shuffle_partitions=1)
    df = spark.range(1, numPartitions=1)
    rows = []
    for fn in (probe, probe, worker_fn(probe), worker_fn(probe)):
        rows += df.mapInPandas(fn, "pid long, reads long").collect()
    spark.stop()
    print("RESULT " + json.dumps([[r.pid, r.reads] for r in rows]))
    """
)


def test_second_task_in_reused_worker_reads_no_archive_directory(tmp_path):
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    proc = subprocess.run(
        [sys.executable, "-c", _TWO_TASKS],
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=300,
        check=True,
    )
    line = [
        ln for ln in proc.stdout.decode().splitlines() if ln.startswith("RESULT ")
    ][-1]
    rows = json.loads(line.removeprefix("RESULT "))
    assert len({pid for pid, _ in rows}) == 1  # one reused worker
    # unwrapped: the second task re-read the archives its worker imports
    # from (the control that the count sees them); wrapped: nothing
    assert rows[1][1] >= 1
    assert rows[3][1] == 0
