"""Per-layer metrics of a traced run, from its spans and event log.

Each metric is listed in BENCHMARK.json's ``per_layer``; which end-to-end
metric it should move, on which workload, is in perfbench/record.json.
Every traced run reports every metric; a layer the workload does not use
reads 0.  Corpus metrics are per pass, hepstore ones per call.
"""

from __future__ import annotations

import json
from pathlib import Path

from perfbench.spans import Tracer
from perfbench.stats import median

BENCHMARK_JSON = Path(__file__).resolve().parents[1] / "BENCHMARK.json"


def metric_units(section: str) -> dict[str, str]:
    """Name -> unit of every metric in BENCHMARK.json's ``section``
    (``end_to_end`` or ``per_layer``)."""
    return {m["name"]: m["unit"] for m in json.loads(BENCHMARK_JSON.read_text())[section]}


# (metric, GroupStats field, scale to the metric's unit)
_EXEC = (
    ("exec.jobs", "jobs", 1),
    ("exec.stages", "stages", 1),
    ("exec.tasks", "tasks", 1),
    ("exec.executor_run_s", "executor_run_ms", 1e-3),
    ("exec.executor_cpu_s", "executor_cpu_ns", 1e-9),
    ("exec.gc_s", "gc_ms", 1e-3),
    ("exec.task_wait_s", "task_wait_ms", 1e-3),
    ("exec.scan_bytes", "input_bytes", 1),
    ("exec.scan_rows", "input_records", 1),
    ("exec.files_read", "files_read", 1),
    ("exec.shuffle_write_bytes", "shuffle_write_bytes", 1),
    ("exec.shuffle_read_bytes", "shuffle_read_bytes", 1),
    ("exec.spill_bytes", "spill_bytes", 1),
    ("exec.python_worker_s", "python_run_ms", 1e-3),
    ("exec.python_boot_s", "python_boot_ms", 1e-3),
    ("exec.python_bytes_sent", "python_bytes_sent", 1),
)


def _sum(groups: dict, spans: list[dict], attr: str) -> float:
    return sum(getattr(groups[s["group"]], attr) for s in spans if s["group"] in groups)


def _in_passes(tr: Tracer, name: str) -> list[dict]:
    """Spans called ``name`` that ran inside a measured pass."""

    def in_pass(span: dict) -> bool:
        while span["parent"] is not None:
            span = tr.spans[span["parent"]]
            if span["name"] == "pass":
                return True
        return False

    return [s for s in tr.named(name) if in_pass(s)]


def layers(tr: Tracer, groups: dict, inp: dict) -> dict[str, float]:
    """Every per-layer metric from the spans of ``tr``, the event-log
    ``groups`` and the workload's own counts ``inp``."""
    out = dict.fromkeys(metric_units("per_layer"), 0.0)
    out["session.start_s"] = inp["session_start_s"]
    out["exec.failed_tasks"] = sum(g.failed_tasks for g in groups.values())
    if "load_s" in inp:
        _corpus(out, tr, groups, inp)
    if "chunks" in inp:
        _hepstore(out, tr, groups, inp)
    return out


def _corpus(out: dict, tr: Tracer, groups: dict, inp: dict) -> None:
    n = inp["passes"]
    out["tables.load_s"] = inp["load_s"]
    out["tables.load_jobs"] = _sum(groups, tr.named("tables.load"), "jobs")
    build, run = _in_passes(tr, "build"), _in_passes(tr, "exec")
    out["build.s"] = sum(s["end"] - s["start"] for s in build) / n
    out["build.jobs"] = _sum(groups, build, "jobs") / n
    out["build.py4j_calls"] = sum(s["py4j_calls"] for s in build) / n
    # planning: from the noop write call to its first job
    plan = 0.0
    for s in run:
        g = groups.get(s["group"])
        if g is not None and g.first_job_ms is not None:
            plan += max(0.0, g.first_job_ms / 1000 - s["start"])
    out["plan.s"] = plan / n
    out["exec.s"] = (sum(s["end"] - s["start"] for s in run) - plan) / n
    for key, attr, scale in _EXEC:
        out[key] = _sum(groups, run, attr) * scale / n
    if inp["result_rows"]:
        out["exec.join_rows_per_output_row"] = _sum(groups, run, "join_output_rows") / inp["result_rows"]


def _hepstore(out: dict, tr: Tracer, groups: dict, inp: dict) -> None:
    out["writer.event_commit_ms"] = median(inp["commit_s"]) * 1000
    out["writer.chunk_flush_s"] = median(inp["flush_s"])
    out["writer.close_s"] = median(inp["close_s"])
    flushes = _in_passes(tr, "writer.flush")
    out["writer.jobs_per_chunk"] = _sum(groups, flushes, "jobs") / len(flushes)
    out["writer.files_per_chunk"] = inp["files_per_chunk"]
    out["writer.bytes_written"] = inp["bytes_written"]
    lens = _in_passes(tr, "reader.len")
    out["reader.len_jobs"] = _sum(groups, lens, "jobs") / len(lens)
    lookups = _in_passes(tr, "reader.lookup")
    out["reader.lookup_jobs"] = _sum(groups, lookups, "jobs") / len(lookups)
    out["reader.listing_jobs"] = _sum(groups, lookups, "listing_jobs") / len(lookups)
    scans = _sum(groups, lookups, "scans")
    if scans:
        out["reader.lookup_files_read"] = _sum(groups, lookups, "files_read") / scans
    if inp["lookup_rows"]:
        out["reader.lookup_rows_scanned_per_row"] = _sum(groups, lookups, "input_records") / inp["lookup_rows"]
    cols = _in_passes(tr, "reader.column")
    if inp["particles_bytes"]:
        out["reader.column_bytes_read_ratio"] = _sum(groups, cols, "input_bytes") / (
            len(cols) * inp["particles_bytes"]
        )
