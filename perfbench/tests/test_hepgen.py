import numpy as np
import pandas as pd

from perfbench import hepgen


def _flat(events):
    return [a.tobytes() for ev in events for a in ev.arrays()] + [ev.num_jets for ev in events]


def test_same_seed_same_events():
    a = hepgen.make_events(7, 5, 20, 80)
    b = hepgen.make_events(7, 5, 20, 80)
    assert _flat(a) == _flat(b)


def test_other_seed_other_events():
    assert _flat(hepgen.make_events(7, 5, 20, 80)) != _flat(hepgen.make_events(8, 5, 20, 80))


def test_events_cover_the_writer_columns():
    (ev,) = hepgen.make_events(3, 1, 20, 80)
    n = len(ev.pdg)
    assert 20 <= n <= 80
    for arr in (ev.pmu, ev.status, ev.helicity, ev.color, ev.final, ev.pt):
        assert len(arr) == n
    assert len(ev.edge_weights) == len(ev.edges) >= n
    assert ev.final.dtype == np.bool_
    assert hepgen.user_bytes([ev]) == sum(a.nbytes for a in ev.arrays())


def _stored(ev):
    """The frames a faithful store returns for ``ev``."""
    particles = pd.DataFrame(
        {
            "px": ev.pmu["x"], "py": ev.pmu["y"], "pz": ev.pmu["z"], "e": ev.pmu["e"],
            "pdg": ev.pdg, "status": ev.status, "helicity": ev.helicity,
            "color": ev.color["color"], "anticolor": ev.color["anticolor"],
            "mask_final": ev.final, "custom_pt": ev.pt,
        }
    )
    edges = pd.DataFrame({"src": ev.edges["src"], "dst": ev.edges["dst"], "weight": ev.edge_weights})
    meta = {"num_pcls": len(ev.pdg), "num_edges": len(ev.edges), "custom_meta": {"num_jets": str(ev.num_jets)}}
    return particles, edges, meta


def test_mismatches_is_exact():
    (ev,) = hepgen.make_events(5, 1, 20, 80)
    particles, edges, meta = _stored(ev)
    assert hepgen.mismatches(ev, particles, edges, meta) == []
    particles.loc[3, "px"] = np.nextafter(particles.loc[3, "px"], np.inf)
    edges.loc[0, "dst"] += 1
    meta["custom_meta"] = {"num_jets": str(ev.num_jets + 1)}
    assert hepgen.mismatches(ev, particles, edges, meta) == ["px", "dst", "custom_meta"]


def test_lookup_mismatches():
    (ev,) = hepgen.make_events(5, 1, 20, 80)
    assert hepgen.lookup_mismatches(ev, ev.pmu.copy(), ev.pdg.copy(), ev.final.copy()) == []
    assert hepgen.lookup_mismatches(ev, ev.pmu, ev.pdg[:-1], ~ev.final) == ["pdg", "final"]
