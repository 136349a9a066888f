"""Seeded synthetic heparchy events for the ``hepstore`` workload.

Every event sets each column ``HepEventWriter`` accepts (pmu, pdg, status,
helicity, color, edges, edge weights, a mask, a custom column and custom
metadata), and the process sets its metadata and custom metadata, so a
read-back that matches these values exactly covers the whole write path.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

PMU_DTYPE = np.dtype([("x", "<f8"), ("y", "<f8"), ("z", "<f8"), ("e", "<f8")])
COLOR_DTYPE = np.dtype([("color", "<i4"), ("anticolor", "<i4")])
EDGE_DTYPE = np.dtype([("src", "<i4"), ("dst", "<i4")])

PROCESS = "higgs"
PROCESS_META = {
    "process_string": "p p > h z",
    "signal_pdgs": [25, 5, -5],
    "com_energy": (13000.0, "GeV"),
    "custom_meta": {"decay_channel": "semileptonic", "generator": "perfbench"},
}
_PDGS = np.array([-211, -13, -11, 11, 13, 21, 22, 25, 211, 5, -5], dtype="<i4")
_STATUS = np.array([-23, -22, 1, 2, 23, 62], dtype="<i2")
_HELICITY = np.array([-1, 0, 1, 9], dtype="<i2")


@dataclass(frozen=True)
class Event:
    pmu: np.ndarray
    pdg: np.ndarray
    status: np.ndarray
    helicity: np.ndarray
    color: np.ndarray
    edges: np.ndarray
    edge_weights: np.ndarray
    final: np.ndarray
    pt: np.ndarray
    num_jets: int

    def arrays(self) -> tuple[np.ndarray, ...]:
        return (
            self.pmu, self.pdg, self.status, self.helicity, self.color,
            self.edges, self.edge_weights, self.final, self.pt,
        )


def make_events(seed: int, n_events: int, min_pcls: int, max_pcls: int) -> list[Event]:
    """``n_events`` events with ``min_pcls``..``max_pcls`` particles each,
    a pure function of ``seed``."""
    rng = np.random.default_rng(seed)
    return [_event(rng, int(rng.integers(min_pcls, max_pcls + 1))) for _ in range(n_events)]


def _event(rng: np.random.Generator, n: int) -> Event:
    pmu = np.empty(n, dtype=PMU_DTYPE)
    for f in ("x", "y", "z"):
        pmu[f] = rng.normal(0.0, 50.0, n)
    pmu["e"] = np.sqrt(pmu["x"] ** 2 + pmu["y"] ** 2 + pmu["z"] ** 2) + rng.uniform(0.0, 5.0, n)
    color = np.empty(n, dtype=COLOR_DTYPE)
    color["color"] = rng.integers(501, 511, n)
    color["anticolor"] = rng.integers(501, 511, n)
    n_edges = int(rng.integers(n, 2 * n + 1))
    edges = np.empty(n_edges, dtype=EDGE_DTYPE)
    edges["src"] = rng.integers(-n, 0, n_edges)
    edges["dst"] = rng.integers(-n, 0, n_edges)
    status = rng.choice(_STATUS, n)
    return Event(
        pmu=pmu,
        pdg=rng.choice(_PDGS, n),
        status=status,
        helicity=rng.choice(_HELICITY, n),
        color=color,
        edges=edges,
        edge_weights=rng.uniform(0.0, 1.0, n_edges),
        final=status == 1,
        pt=np.hypot(pmu["x"], pmu["y"]),
        num_jets=int(rng.integers(0, 8)),
    )


def user_bytes(events: list[Event]) -> int:
    """Bytes of array data handed to the writer (metadata excluded)."""
    return sum(a.nbytes for ev in events for a in ev.arrays())


def write_event(evt, ev: Event) -> None:
    """Set every column of ``ev`` on a ``HepEventWriter``."""
    evt.pmu = ev.pmu
    evt.pdg = ev.pdg
    evt.status = ev.status
    evt.helicity = ev.helicity
    evt.color = ev.color
    evt.edges = ev.edges
    evt.edge_weights = ev.edge_weights
    evt.masks["final"] = ev.final
    evt.custom["pt"] = ev.pt
    evt.custom_meta["num_jets"] = ev.num_jets


def write_process_meta(proc) -> None:
    """Set the process metadata of ``PROCESS_META`` on a ``HepProcessWriter``."""
    proc.process_string = PROCESS_META["process_string"]
    proc.signal_pdgs = PROCESS_META["signal_pdgs"]
    proc.com_energy(*PROCESS_META["com_energy"])
    for k, v in PROCESS_META["custom_meta"].items():
        proc.custom_meta[k] = v


def mismatches(ev: Event, particles, edges, meta: dict) -> list[str]:
    """Fields of ``ev`` whose read-back differs; empty when all are exact.

    ``particles`` and ``edges`` are one event's rows from the store as
    pandas frames ordered by ``pcl_idx`` / ``edge_idx``; ``meta`` is its
    row of the events table as a dict.
    """
    want = {
        "px": ev.pmu["x"], "py": ev.pmu["y"], "pz": ev.pmu["z"], "e": ev.pmu["e"],
        "pdg": ev.pdg, "status": ev.status, "helicity": ev.helicity,
        "color": ev.color["color"], "anticolor": ev.color["anticolor"],
        "mask_final": ev.final, "custom_pt": ev.pt,
    }
    bad = [k for k, v in want.items() if not same(particles[k].to_numpy(), v)]
    for k, v in (("src", ev.edges["src"]), ("dst", ev.edges["dst"]), ("weight", ev.edge_weights)):
        if not same(edges[k].to_numpy(), v):
            bad.append(k)
    if int(meta["num_pcls"]) != len(ev.pdg) or int(meta["num_edges"]) != len(ev.edges):
        bad.append("counts")
    if (meta.get("custom_meta") or {}).get("num_jets") != str(ev.num_jets):
        bad.append("custom_meta")
    return bad


def lookup_mismatches(ev: Event, pmu: np.ndarray, pdg: np.ndarray, final: np.ndarray) -> list[str]:
    """Fields of a point lookup that differ from the generated event."""
    bad = [f"pmu.{f}" for f in PMU_DTYPE.names if not same(pmu[f], ev.pmu[f])]
    if not same(pdg, ev.pdg):
        bad.append("pdg")
    if not same(final, ev.final):
        bad.append("final")
    return bad


def same(got: np.ndarray, want: np.ndarray) -> bool:
    """Exact equality of a read-back column with the generated one."""
    return len(got) == len(want) and bool(np.array_equal(np.asarray(got, dtype=want.dtype), want))
