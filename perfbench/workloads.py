"""The benchmark workloads.

Every workload is one Python process with one client in a closed loop:
each call is issued after the previous one returns.  Spark runs
``local[cores]`` with shuffle partitions = cores.  BENCHMARK.json names
``hepstore`` and ``llm_pipeline``; ``relational`` runs the same way and is
the control to run by hand (perfbench/repeat.py, with ``PERFBENCH_DATA``
pointing at the full test tables) for changes predicted not to touch the
JVM scan/join path.

``relational`` and ``llm_pipeline`` run fixed subsets of the query corpus
at sf0.01.  Each query is first executed once untimed and collected for
the output check (which also pays its code generation), then timed as
driver build (``spark_queries()[name](spark, sf_dir)``) plus a noop write
in whole passes, the query order of each pass drawn from the seed.

``hepstore`` writes seeded events through ``HepWriter`` into a fresh store
and then runs a read mix on it through ``HepReader``: ``len(proc)``,
seeded point lookups ``proc[i]`` reading pmu, pdg and masks["final"], and
a column projection of ``proc.particles`` to pandas.  Every value read
back is compared exactly with what was generated.

Call timings are also reported canary-normalized: a fixed Spark job on
all cores that runs no code of this repository (the canary) is timed
before every timed call, under SQL conf of its own (``CANARY_CONF``), and
a time divided by the run's median canary time, times ``CANARY_REF_S``,
is the time the call would take on a machine where the canary takes
``CANARY_REF_S``.  The shared machines the benchmark runs on change speed
by up to 2-3x from minute to minute.  Normalization cancels that, and
also anything that slows the canary and the calls alike inside the one
JVM (JVM flags, non-SQL Spark conf, heap state); the raw times are in the
detail record.  ``call_geomean_norm_ms`` is the geometric mean, over the
workload's kinds of call (each query; the store write, a field read and a
column read), of each kind's median time, so every kind weighs the same;
``pass_norm_s`` is the median pass, where every kind weighs by its time.
``setup_s`` is the median restart time of the session, raw.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from heparchy_spark.queries import spark_queries
from heparchy_spark.queries.tables import TABLES, load
from heparchy_spark.session import get_spark
from heparchy_spark.sources import HepReader, HepWriter
from perfbench import eventlog, hepgen
from perfbench.layers import layers, metric_units
from perfbench.spans import Tracer
from perfbench.stats import geomean, median, percentile, tail_percentile

SF = "sf0.01"
# setup_s is the median of RESTARTS session restarts in the running JVM,
# timed after RESTART_WARM untimed ones: the JVM compiles the restart path
# only while it restarts, and the first restarts take up to 2x longer than later ones
RESTART_WARM = 4
RESTARTS = 9
# the driver JVM's heap: fixed in size and touched at start (see Bench.start)
JVM_HEAP = "1g"
CANARY_ROWS = 4_000_000
CANARY_REF_S = 0.05
CANARY_WARM = 5
# The SQL conf the canary's plan depends on, set for the canary alone, so
# that a change to get_spark's conf moves the timed calls but not the canary.
CANARY_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.codegen.factoryMode": "FALLBACK",
    "spark.sql.codegen.hugeMethodLimit": "65535",
}
# A run times round(seconds / nominal pass time) whole passes, so the
# measured work is the same on every commit.  The corpus workloads first
# make WARM_PASSES untimed passes: the first executions after the check
# are still compiling and vary from run to run by tens of percent.
NOMINAL_PASS_S = {"relational": 5.0, "llm_pipeline": 3.3, "hepstore": 5.0}
WARM_PASSES = 1

# Subsets of bench.py's PRINTED set, sized so that a run fits the
# benchmark's time budget on a 4-core machine (see perfbench/record.json).
RELATIONAL = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "window_topk_orders_per_customer",
    "events_sessionize_30m",
]
# dedup_simhash_pairs, the heaviest py4j build, is left out: its time
# swings by +-30% from run to run on a shared machine even after
# normalization, more than the benchmark's bound.  similarity_lsh_topk
# carries the same mechanism (one py4j call per F.lit of its hyperplanes).
LLM_PIPELINE = [
    "similarity_lsh_topk",
    "text_fingerprints",
    "multimodal_byte_stats",
    "dedup_exact",
]

# hepstore sizes
EVENTS = 18
EVTS_PER_CHUNK = 6
MIN_PCLS, MAX_PCLS = 20, 80
WARMUP_LOOKUPS = 1
LOOKUPS = 4
COLUMN_READS = 2
COLUMNS = ["event_id", "pcl_idx", "px", "py", "pz", "e"]


@dataclass
class Pass:
    """One timed pass: its time and the time of each of its calls by kind."""

    s: float = 0.0
    calls: dict[str, list[float]] = field(default_factory=dict)

    def add(self, kind: str, dt: float) -> None:
        self.calls.setdefault(kind, []).append(dt)


@dataclass
class Bench:
    root: Path
    work: Path
    data: Path
    cores: int
    seed: int
    seconds: float
    trace: bool
    spark: object = None
    tracer: Tracer = field(init=False)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    canaries: list[float] = field(default_factory=list)
    worker_pss_kb: list[int] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace)

    # -- session -----------------------------------------------------------
    def start(self) -> float:
        """(Re)start the session; returns the seconds ``get_spark`` took."""
        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.driver.memory": JVM_HEAP,
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # keep every file the JVM writes inside the work directory; a
            # heap of fixed size, touched at start, so that the JVM's
            # resident memory does not depend on when its collector grew it
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData -Xms{JVM_HEAP} -XX:+AlwaysPreTouch"
            ),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        dt = time.perf_counter() - t0
        self.tracer.bind(self.spark)
        return dt

    def stop_spark(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone
            proc.kill()
            proc.wait()

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            self.tracer.close()

    # -- canary --------------------------------------------------------------
    def canary(self, record: bool = True) -> float:
        """Time the canary, a fixed all-cores Spark job that calls no code of
        this repository, under ``CANARY_CONF``, as a sample of the machine's
        current speed.  It runs before every timed call, so the Python
        workers' memory is sampled here too."""
        conf = self.spark.conf
        saved = {k: conf.get(k) for k in CANARY_CONF}
        with self.tracer.span("canary"):
            for k, v in CANARY_CONF.items():
                conf.set(k, v)
            try:
                t0 = time.perf_counter()
                self.spark.range(0, CANARY_ROWS, 1, self.cores).selectExpr("sum(id % 7 * id % 13)").collect()
                dt = time.perf_counter() - t0
            finally:
                for k, v in saved.items():
                    conf.set(k, v)
        if record:
            self.canaries.append(dt)
            self.worker_pss_kb.append(sum(_proc_kb(p, "smaps_rollup", "Pss:") for p in _descendants(self.jvm_pid())))
        return dt

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def memory_mb(self) -> dict[str, float]:
        """Peak resident memory of the driver process and of the Spark JVM
        (VmHWM of each), and the peak of the Python workers' summed PSS as
        sampled before every timed call and now."""
        workers = sum(_proc_kb(p, "smaps_rollup", "Pss:") for p in _descendants(self.jvm_pid()))
        return {
            "driver_hwm": _proc_kb(os.getpid(), "status", "VmHWM:") / 1024,
            "jvm_hwm": _proc_kb(self.jvm_pid(), "status", "VmHWM:") / 1024,
            "workers_pss_peak": max(self.worker_pss_kb + [workers]) / 1024,
        }

    def speed(self) -> float:
        """Median canary time of the run over ``CANARY_REF_S``: > 1 on a
        slow machine.  One factor per run: normalizing each pass by its
        own few canaries made the figures noisier."""
        return median(self.canaries) / CANARY_REF_S

    # -- op accounting ------------------------------------------------------
    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"perfbench: failed op: {what}", file=sys.stderr)


def _descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _proc_kb(pid: int, name: str, key: str) -> int:
    """The kB figure on the ``key`` line of /proc/<pid>/<name>; 0 when the
    process has gone."""
    try:
        for line in Path(f"/proc/{pid}/{name}").read_text().splitlines():
            if line.startswith(key):
                return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def run_workload(name: str, b: Bench) -> tuple[dict, dict]:
    """Run workload ``name``; returns its detail record and result record."""
    fn = {"hepstore": hepstore, "relational": corpus, "llm_pipeline": corpus}[name]
    raw, detail, layer_inputs = fn(name, b)
    t_phase = time.perf_counter()
    raw["setup_s"] = _restarts(b)
    detail["phases_s"]["restarts"] = time.perf_counter() - t_phase
    passes = raw.pop("passes")
    kinds = sorted({k for p in passes for k in p.calls})
    raw["pass_s"] = median([p.s for p in passes])
    raw["kind_s"] = {k: median([t for p in passes for t in p.calls.get(k, ())]) for k in kinds}
    raw["call_geomean_ms"] = geomean(raw["kind_s"].values()) * 1000
    speed = b.speed()
    kind_norm = {k: v / speed for k, v in raw["kind_s"].items()}
    memory = b.memory_mb()
    e2e = {
        "setup_s": raw["setup_s"],
        "call_geomean_norm_ms": geomean(kind_norm.values()) * 1000,
        "pass_norm_s": raw["pass_s"] / speed,
        "peak_rss_mb": sum(memory.values()),
    }
    b.stop_spark()
    detail.update(
        raw=raw,
        memory_mb=memory,
        kind_norm_ms={k: v * 1000 for k, v in kind_norm.items()},
        canary={"median_s": median(b.canaries), "n": len(b.canaries), "speed": speed},
        failed_ops_ratio=b.failed / max(b.attempted, 1),
        failed_ops=b.errors[:20],
        end_to_end=dict(e2e),
    )
    if b.trace:
        b.tracer.write(b.work / f"spans-seed{b.seed}.jsonl")
        groups = eventlog.parse(eventlog.read_lines(b.work / "eventlog"))
        units = metric_units("per_layer")
        metrics = {k: (v, units[k]) for k, v in layers(b.tracer, groups, layer_inputs).items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in metric_units("end_to_end").items()}
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"workload": name, "seed": b.seed, "trace": b.trace, "detail": detail}, result


def _cold_start(b: Bench) -> float:
    """Start the session and the JVM; returns the seconds it took."""
    cold = b.start()
    for _ in range(CANARY_WARM):
        b.canary(record=False)  # the canary's first runs still compile
    return cold


def _restarts(b: Bench) -> float:
    """Restart the session ``RESTART_WARM + RESTARTS`` times in the running
    JVM; returns the median time of the last ``RESTARTS``.  Both garbage
    collectors run first, so that the garbage the workload left (py4j
    proxies whose release goes to the JVM, the JVM's heap) is not collected
    during the timed restarts."""
    gc.collect()
    b.spark.sparkContext._jvm.System.gc()
    for _ in range(RESTART_WARM):
        b.start()
    return median([b.start() for _ in range(RESTARTS)])


def _passes(name: str, b: Bench) -> int:
    return max(1, round(b.seconds / NOMINAL_PASS_S[name]))


def _tail(values: list[float]) -> dict:
    """The tail by the benchmark's rule; no value when the samples support
    no percentile above the median."""
    p = tail_percentile(len(values))
    if p is None or p <= 50:
        return {"pct": None, "n": len(values), "value": None}
    return {"pct": p, "n": len(values), "value": percentile(values, p)}


# ---------------------------------------------------------------------------
# relational / llm_pipeline
# ---------------------------------------------------------------------------


def corpus(name: str, b: Bench):
    import duckdb

    sys.path.insert(0, str(b.root / "tools"))
    import __spark_entry__
    from parity_check import table_hash

    names = RELATIONAL if name == "relational" else LLM_PIPELINE
    sf_dir = b.data / SF
    tables = [t for t in TABLES if (sf_dir / f"{t}.parquet").exists()]
    if not tables:
        raise FileNotFoundError(f"no test tables under {sf_dir}; set PERFBENCH_DATA")
    qs = spark_queries()
    oracles = __spark_entry__.oracle_sql()

    t_phase = time.perf_counter()
    session_start_s = _cold_start(b)
    phases = {"start": time.perf_counter() - t_phase}
    t_phase = time.perf_counter()
    with b.tracer.span("tables.load"):
        for t in tables:
            load(b.spark, str(sf_dir), t)
    load_s = time.perf_counter() - t_phase

    # output check, untimed; it also pays each query's first execution
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        result_rows: dict[str, int] = {}
        for q in names:
            with b.tracer.span("check", op=q):
                try:
                    df = qs[q](b.spark, str(sf_dir))
                    got = table_hash(df.columns, [tuple(r) for r in df.collect()])
                    res = con.execute(oracles[q])
                    want = table_hash([d[0] for d in res.description], res.fetchall())
                    result_rows[q] = got[1]
                    b.op(got == want, f"check {q}: spark {got} != oracle {want}")
                except Exception as exc:  # noqa: BLE001 - a failed op, not a crash
                    b.op(False, f"check {q}: {exc!r}"[:300])
                finally:
                    b.spark.catalog.clearCache()
    finally:
        con.close()
    phases["check"] = time.perf_counter() - t_phase - load_s

    rng = random.Random(b.seed)
    passes: list[Pass] = []
    latencies: list[float] = []
    t_phase = time.perf_counter()
    for k in range(WARM_PASSES + _passes(name, b)):
        timed = k >= WARM_PASSES
        p = Pass()
        with b.tracer.span("pass" if timed else "warm", op=str(k)):
            for q in rng.sample(names, len(names)):
                b.canary(record=timed)
                t0 = time.perf_counter()
                try:
                    with b.tracer.span("build", op=q):
                        df = qs[q](b.spark, str(sf_dir))
                    with b.tracer.span("exec", op=q):
                        df.write.mode("overwrite").format("noop").save()
                    dt = time.perf_counter() - t0
                    if timed:
                        latencies.append(dt)
                        p.add(q, dt)
                        b.op(True, q)
                except Exception as exc:  # noqa: BLE001
                    b.op(False, f"run {q}: {exc!r}"[:300])
                finally:
                    b.spark.catalog.clearCache()
                p.s += time.perf_counter() - t0
        if timed:
            passes.append(p)
    phases["passes"] = time.perf_counter() - t_phase
    if not latencies:
        raise RuntimeError(f"no query of {names} ran: {b.errors}")

    raw = {"op_p50_ms": median(latencies) * 1000, "passes": passes}
    detail = {
        "sizes": {"sf": SF, "queries": names, "passes": len(passes), "cores": b.cores},
        "loop": "closed, 1 client",
        "query_p50_s": median(latencies),
        "query_tail_s": _tail(latencies),
        "pass_s": [p.s for p in passes],
        "result_rows": result_rows,
        "phases_s": phases,
    }
    inputs = {
        "session_start_s": session_start_s,
        "load_s": load_s,
        "passes": len(passes),
        "result_rows": sum(result_rows.get(q, 0) for q in names) * len(passes),
    }
    return raw, detail, inputs


# ---------------------------------------------------------------------------
# hepstore
# ---------------------------------------------------------------------------


def _samples() -> dict:
    """Empty per-call timings of one hepstore run."""
    kinds = ("commit_s", "flush_s", "close_s", "field_s", "lookup_s", "column_s", "column_rows_per_s")
    timed: dict = {k: [] for k in kinds}
    timed["lookup_rows"] = 0
    return timed


def _write_store(b: Bench, path: Path, events: list[hepgen.Event], timed: dict) -> None:
    """Write ``events`` into a fresh store at ``path`` through HepWriter,
    timing every event block and the close into ``timed``."""
    shutil.rmtree(path, ignore_errors=True)
    tr = b.tracer
    w = HepWriter(b.spark, path, evts_per_chunk=EVTS_PER_CHUNK)
    w.__enter__()
    proc = w.new_process(hepgen.PROCESS)
    proc.__enter__()
    hepgen.write_process_meta(proc)
    for i, ev in enumerate(events):
        flush = (i + 1) % EVTS_PER_CHUNK == 0
        t0 = time.perf_counter()
        try:
            with tr.span("writer.flush" if flush else "writer.event", op=str(i)):
                with proc.new_event() as evt:
                    hepgen.write_event(evt, ev)
            timed["flush_s" if flush else "commit_s"].append(time.perf_counter() - t0)
            b.op(True, f"write {i}")
        except Exception as exc:  # noqa: BLE001
            b.op(False, f"write event {i}: {exc!r}"[:300])
    t0 = time.perf_counter()
    with tr.span("writer.close"):
        proc.__exit__(None, None, None)
        w.__exit__(None, None, None)
    timed["close_s"].append(time.perf_counter() - t0)


def _lookups(
    b: Bench, proc, events: list[hepgen.Event], rng: random.Random, n: int, timed: dict
) -> float:
    """``n`` seeded point lookups; returns the seconds they took."""
    spent = 0.0
    for _ in range(n):
        i = rng.randrange(len(events))
        b.canary()
        try:
            with b.tracer.span("reader.lookup", op=str(i)):
                t0 = time.perf_counter()
                evt = proc[i]
                pmu = evt.pmu
                t1 = time.perf_counter()
                pdg = evt.pdg
                t2 = time.perf_counter()
                final = evt.masks["final"]
                t3 = time.perf_counter()
            spent += t3 - t0
            timed["field_s"] += [t1 - t0, t2 - t1, t3 - t2]
            timed["lookup_s"].append(t3 - t0)
            timed["lookup_rows"] += len(pmu) + len(pdg) + len(final)
            bad = hepgen.lookup_mismatches(events[i], pmu, pdg, final)
            b.op(not bad, f"lookup {i}: {bad}")
        except Exception as exc:  # noqa: BLE001
            b.op(False, f"lookup {i}: {exc!r}"[:300])
    return spent


def _column_reads(b: Bench, proc, events: list[hepgen.Event], n: int, timed: dict) -> float:
    """``n`` column projections of the particles table to pandas; returns
    the seconds they took."""
    want_px = np.concatenate([ev.pmu["x"] for ev in events])
    spent = 0.0
    for _ in range(n):
        b.canary()
        try:
            with b.tracer.span("reader.column"):
                t0 = time.perf_counter()
                pdf = proc.particles.select(*COLUMNS).toPandas()
                dt = time.perf_counter() - t0
            spent += dt
            timed["column_s"].append(dt)
            timed["column_rows_per_s"].append(len(pdf) / dt)
            got = pdf.sort_values(["event_id", "pcl_idx"])["px"].to_numpy()
            b.op(hepgen.same(got, want_px), "column read px mismatch")
        except Exception as exc:  # noqa: BLE001
            b.op(False, f"column read: {exc!r}"[:300])
    return spent


def _read_back(b: Bench, path: Path, events: list[hepgen.Event]) -> None:
    """Compare every stored value with the generated events (untimed)."""
    proc = HepReader(b.spark, path)[hepgen.PROCESS]
    meta = hepgen.PROCESS_META
    got_meta = (
        proc.process_string,
        [int(x) for x in proc.signal_pdgs],
        tuple(proc.com_energy),
        {k: proc.custom_meta[k] for k in proc.custom_meta},
    )
    want_meta = (meta["process_string"], meta["signal_pdgs"], meta["com_energy"], meta["custom_meta"])
    b.op(got_meta == want_meta, f"process meta {got_meta} != {want_meta}")
    particles = proc.particles.toPandas().sort_values(["event_id", "pcl_idx"])
    edges = proc.edges.toPandas().sort_values(["event_id", "edge_idx"])
    evmeta = {int(r["event_id"]): r.asDict() for r in proc.events.collect()}
    pg = dict(tuple(particles.groupby("event_id")))
    eg = dict(tuple(edges.groupby("event_id")))
    for i, ev in enumerate(events):
        try:
            bad = hepgen.mismatches(ev, pg[i], eg[i], evmeta[i])
            b.op(not bad, f"read-back event {i}: {bad}")
        except Exception as exc:  # noqa: BLE001
            b.op(False, f"read-back event {i}: {exc!r}"[:300])


def hepstore(name: str, b: Bench):
    events = hepgen.make_events(b.seed, EVENTS, MIN_PCLS, MAX_PCLS)
    rng = random.Random(b.seed)
    t_phase = time.perf_counter()
    session_start_s = _cold_start(b)
    phases = {"start": time.perf_counter() - t_phase}
    t_phase = time.perf_counter()

    # untimed warm-up on a one-chunk store: the write path and the read
    # mix pay the JVM's first-use cost here, not in the timed pass
    warm, first = b.work / "warm-store", events[:EVTS_PER_CHUNK]
    with b.tracer.span("warmup"):
        _write_store(b, warm, first, _samples())
        proc = HepReader(b.spark, warm)[hepgen.PROCESS]
        _lookups(b, proc, first, rng, WARMUP_LOOKUPS, _samples())
        _column_reads(b, proc, first, 1, _samples())
    # the warm-up's calls are neither ops nor samples
    b.attempted, b.failed, b.errors = 0, 0, []
    b.canaries.clear()
    timed = _samples()
    phases["warmup"] = time.perf_counter() - t_phase

    store = b.work / "store"
    passes: list[Pass] = []
    write_s: list[float] = []
    t_phase = time.perf_counter()
    for k in range(_passes(name, b)):
        first = (len(timed["field_s"]), len(timed["column_s"]))
        with b.tracer.span("pass", op=str(k)):
            b.canary()
            t0 = time.perf_counter()
            with b.tracer.span("writer.write"):
                _write_store(b, store, events, timed)
            write_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with b.tracer.span("reader.open"):
                proc = HepReader(b.spark, store)[hepgen.PROCESS]
            with b.tracer.span("reader.len"):
                n = len(proc)
            b.op(n == len(events), f"len {n} != {len(events)}")
            opened = time.perf_counter() - t0
            spent = _lookups(b, proc, events, rng, LOOKUPS, timed)
            spent += _column_reads(b, proc, events, COLUMN_READS, timed)
        calls = {
            "store_write": write_s[-1:],
            "field_read": timed["field_s"][first[0] :],
            "column_read": timed["column_s"][first[1] :],
        }
        passes.append(Pass(write_s[-1] + opened + spent, calls))
    phases["passes"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    _read_back(b, store, events)
    phases["read_back"] = time.perf_counter() - t_phase
    if not timed["field_s"]:
        raise RuntimeError(f"no lookup succeeded: {b.errors}")

    files = [p for p in store.rglob("*") if p.is_file()]
    bytes_written = sum(p.stat().st_size for p in files)
    user = hepgen.user_bytes(events)
    chunks = EVENTS // EVTS_PER_CHUNK
    raw = {"op_p50_ms": median(timed["field_s"]) * 1000, "passes": passes}
    lookups_ms = [t * 1000 for t in timed["lookup_s"]]
    detail = {
        "sizes": {
            "events": EVENTS,
            "evts_per_chunk": EVTS_PER_CHUNK,
            "chunks": chunks,
            "particles": sum(len(ev.pdg) for ev in events),
            "user_bytes": user,
            "lookups_per_pass": LOOKUPS,
            "column_reads_per_pass": COLUMN_READS,
            "passes": len(passes),
            "cores": b.cores,
        },
        "loop": "closed, 1 client",
        "write_events_per_s": median([EVENTS / t for t in write_s]),
        "lookup_p50_ms": median(lookups_ms),
        "lookup_tail_ms": _tail(lookups_ms),
        "field_read_tail_ms": _tail([t * 1000 for t in timed["field_s"]]),
        "column_read_rows_per_s": median(timed["column_rows_per_s"]),
        "store_bytes_per_user_byte": bytes_written / user,
        "pass_s": [p.s for p in passes],
        "phases_s": phases,
    }
    parquet = [p for p in files if p.suffix == ".parquet"]
    inputs = {
        "session_start_s": session_start_s,
        "passes": len(passes),
        "chunks": chunks,
        "commit_s": timed["commit_s"],
        "flush_s": timed["flush_s"],
        "close_s": timed["close_s"],
        "files_per_chunk": len(parquet) / chunks,
        "bytes_written": bytes_written,
        "lookup_rows": timed["lookup_rows"],
        "particles_bytes": sum(p.stat().st_size for p in parquet if "particles" in p.parts),
    }
    return raw, detail, inputs
