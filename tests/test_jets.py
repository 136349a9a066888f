"""Anti-kT jet clustering: hand-checkable physics on tiny events plus the
Spark group fan-out path."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import numpy as np

from heparchy_spark.operators.jets import antikt_cluster, antikt_jets

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

SF_DIR = "/root/testdata/sf0.001"


def _p4(pt, eta, phi):
    return (
        pt * math.cos(phi),
        pt * math.sin(phi),
        pt * math.sinh(eta),
        pt * math.cosh(eta),
    )


def test_collinear_pair_merges_into_one_jet():
    a = _p4(30.0, 0.0, 0.0)
    b = _p4(20.0, 0.1, 0.1)  # within R=0.4 of a
    px, py, pz, e = zip(a, b)
    jets = antikt_cluster(px, py, pz, e, R=0.4, ptmin=5.0)
    assert len(jets) == 1
    n, jpt, jy, jphi, jm = jets[0]
    assert n == 2
    assert jpt > 49.0  # ~ vector sum of 30 + 20 nearly collinear
    # E-scheme: merged massless pair acquires invariant mass
    assert jm > 0.0


def test_back_to_back_pair_stays_two_jets():
    a = _p4(30.0, 0.0, 0.0)
    b = _p4(20.0, 0.0, math.pi)
    px, py, pz, e = zip(a, b)
    jets = antikt_cluster(px, py, pz, e, R=0.4, ptmin=5.0)
    assert len(jets) == 2
    # pt-ordered, massless singletons
    assert jets[0][1] > jets[1][1]
    assert abs(jets[0][1] - 30.0) < 1e-9 and abs(jets[1][1] - 20.0) < 1e-9
    assert jets[0][4] == 0.0 and jets[1][4] == 0.0


def test_soft_particle_clusters_into_hard_jet_antikt_property():
    """Anti-kT's defining behavior: soft radiation clusters AROUND hard
    cores (hard particles eat their neighborhood first), so a soft
    particle between two hard ones joins the HARDER one when in reach of
    both."""
    hard = _p4(100.0, 0.0, 0.0)
    soft = _p4(1.0, 0.0, 0.35)  # within R of hard1 only via phi distance
    hard2 = _p4(50.0, 0.0, 0.7)
    px, py, pz, e = zip(hard, soft, hard2)
    jets = antikt_cluster(px, py, pz, e, R=0.4, ptmin=5.0)
    assert len(jets) == 2
    # the soft particle went to the 100 GeV jet (n_constituents == 2)
    lead = jets[0]
    assert lead[0] == 2 and abs(lead[1] - 100.0) < 2.0


def test_ptmin_drops_soft_jets():
    a = _p4(30.0, 0.0, 0.0)
    b = _p4(2.0, 0.0, math.pi)  # isolated, below ptmin
    px, py, pz, e = zip(a, b)
    jets = antikt_cluster(px, py, pz, e, R=0.4, ptmin=5.0)
    assert len(jets) == 1
    assert abs(jets[0][1] - 30.0) < 1e-9


def test_antikt_jets_spark_groups_match_local_kernel(spark):
    """The applyInPandas fan-out reproduces the local kernel per event and
    conserves constituents (every particle lands in exactly one jet when
    ptmin=0)."""
    from heparchy_spark.operators.jets import synth_particles

    df = spark.range(0, 400).withColumnRenamed("id", "event_id")
    out = antikt_jets(df, "event_id", particles_per_event=100, ptmin=0.0)
    pdf = out.toPandas()
    assert set(pdf["jet_event"]) == {0, 1, 2, 3}
    # constituent conservation per 100-particle event
    tot = pdf.groupby("jet_event")["n_constituents"].sum()
    assert (tot == 100).all()
    # local replay of event 0
    import tools.xxh64 as xx

    eids = list(range(100))
    hs = [
        np.array(
            [xx.xxhash64(i, ("int", j)) & ((1 << 64) - 1) for i in eids],
            dtype="uint64",
        )
        for j in (1, 2, 3)
    ]
    px, py, pz, e = synth_particles(*hs)
    local = antikt_cluster(px, py, pz, e, R=0.4, ptmin=0.0)
    got = pdf[pdf.jet_event == 0].sort_values("jet_rank")
    assert len(got) == len(local)
    assert [int(n) for n in got["n_constituents"]] == [t[0] for t in local]
    assert np.allclose(got["jet_pt"].to_numpy(), [t[1] for t in local], atol=1e-6)


def test_event_shapes_match_numpy_eigh(spark):
    """The closed-form trigonometric 3x3 eigensolver inside
    physics_event_shapes agrees with numpy.linalg.eigh, and the
    observables respect their physical bounds."""
    from heparchy_spark.queries.physics import physics_event_shapes

    out = physics_event_shapes(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) == 5  # 1000 events / 200
    assert ((out["sphericity"] >= 0) & (out["sphericity"] <= 1.0)).all()
    assert ((out["aplanarity"] >= 0) & (out["aplanarity"] <= 0.5)).all()
    assert (out["aplanarity"] <= out["sphericity"] + 1e-9).all()

    # independent recomputation: rebuild the tensor per event with sha256
    # uniforms and diagonalize with LAPACK
    import hashlib

    ids = list(range(1000))

    def unif(eid, j):
        h = hashlib.sha256(f"{eid}p{j}".encode()).hexdigest()
        return int(h[:12], 16) / 281474976710656.0

    for jev in range(5):
        eids = [i for i in ids if i // 200 == jev]
        P = np.array(
            [
                [
                    20.0 * (unif(i, 1) - 0.5),
                    20.0 * (unif(i, 2) - 0.5),
                    40.0 * (unif(i, 3) - 0.5),
                ]
                for i in eids
            ]
        )
        S = (P.T @ P) / (P**2).sum()
        lam = np.sort(np.linalg.eigvalsh(S))[::-1]
        row = out[out.jet_event == jev].iloc[0]
        assert abs(row["sphericity"] - 1.5 * (lam[1] + lam[2])) < 1e-5
        assert abs(row["aplanarity"] - 1.5 * lam[2]) < 1e-5


def test_incremental_kernel_equals_naive():
    """The O(n^2) incremental kernel must replay the naive full-rebuild
    trajectory bit-exactly (same merges, same doubles) on random events,
    including ptmin=0 (all jets emitted)."""
    from build_expected import _jets_cluster as antikt_cluster_naive

    rng = np.random.RandomState(5)
    for trial in range(6):
        n = rng.randint(2, 120)
        px = rng.standard_normal(n) * 10
        py = rng.standard_normal(n) * 10
        pz = rng.standard_normal(n) * 20
        e = np.sqrt(px**2 + py**2 + pz**2) * (1.0 + rng.rand(n) * 0.1)
        fast = antikt_cluster(px, py, pz, e, R=0.4, ptmin=0.0)
        slow = antikt_cluster_naive(px, py, pz, e, R=0.4, ptmin=0.0)
        assert fast == slow, f"trial {trial}: kernels diverged"


def test_incremental_kernel_equals_naive_genkt():
    """Kernel equality holds for every generalized-kT member (C/A p=0,
    kT p=1), including the all-equal-beam-weight tie-break path of p=0."""
    from build_expected import _jets_cluster as antikt_cluster_naive

    rng = np.random.RandomState(11)
    for p in (0.0, 1.0):
        for trial in range(4):
            n = rng.randint(2, 100)
            px = rng.standard_normal(n) * 10
            py = rng.standard_normal(n) * 10
            pz = rng.standard_normal(n) * 20
            e = np.sqrt(px**2 + py**2 + pz**2) * (1.0 + rng.rand(n) * 0.1)
            fast = antikt_cluster(px, py, pz, e, R=0.4, ptmin=0.0, p=p)
            slow = antikt_cluster_naive(px, py, pz, e, R=0.4, ptmin=0.0, p=p)
            assert fast == slow, f"p={p} trial {trial}: kernels diverged"


def test_genkt_final_jets_separated_by_R():
    """Inclusive sequential recombination guarantee: any two FINAL jets
    are separated by dR > R in (y, phi) — otherwise they would have
    merged before beam emission.  Holds for every family member."""
    from heparchy_spark.operators.jets import synth_particles

    h = np.arange(1, 241, dtype="uint64")
    px, py, pz, e = synth_particles(h * 2654435761, h * 40503, h * 2246822519)
    for p in (-1.0, 0.0, 1.0):
        jets = antikt_cluster(px, py, pz, e, R=0.4, ptmin=0.0, p=p)
        assert len(jets) >= 2
        for i in range(len(jets)):
            for j in range(i + 1, len(jets)):
                _, _, y1, phi1, _ = jets[i]
                _, _, y2, phi2, _ = jets[j]
                dphi = abs(phi1 - phi2)
                if dphi > math.pi:
                    dphi = 2 * math.pi - dphi
                dr = math.hypot(y1 - y2, dphi)
                assert dr > 0.4, f"p={p}: jets {i},{j} at dR={dr}"


def test_dijet_mass_matches_direct_four_vector_sum(spark):
    """physics_dijet_mass recovers the invariant mass a direct NumPy
    four-vector sum of the two leading jets gives (to the output grid)."""
    from heparchy_spark.queries.physics import physics_dijet_mass

    out = {
        r["jet_event"]: r
        for r in physics_dijet_mass(spark, SF_DIR).collect()
    }
    assert out, "no dijet rows"
    from heparchy_spark.operators.jets import antikt_jets
    from heparchy_spark.queries.tables import load as load_tbl

    jets = (
        antikt_jets(load_tbl(spark, SF_DIR, "events"), "event_id")
        .where("jet_rank <= 2")
        .collect()
    )
    by_ev = {}
    for r in jets:
        by_ev.setdefault(r["jet_event"], {})[r["jet_rank"]] = r
    checked = 0
    for ev, ranks in by_ev.items():
        if set(ranks) != {1, 2} or ev not in out:
            continue
        vecs = []
        for r in (1, 2):
            jr = ranks[r]
            mt = math.sqrt(jr["jet_mass"] ** 2 + jr["jet_pt"] ** 2)
            vecs.append(
                (
                    jr["jet_pt"] * math.cos(jr["jet_phi"]),
                    jr["jet_pt"] * math.sin(jr["jet_phi"]),
                    mt * math.sinh(jr["jet_y"]),
                    mt * math.cosh(jr["jet_y"]),
                )
            )
        px_s = vecs[0][0] + vecs[1][0]
        py_s = vecs[0][1] + vecs[1][1]
        pz_s = vecs[0][2] + vecs[1][2]
        e_s = vecs[0][3] + vecs[1][3]
        m = math.sqrt(max(e_s**2 - px_s**2 - py_s**2 - pz_s**2, 0.0))
        assert abs(out[ev]["m_jj"] - m) < 1e-3
        assert 0.0 <= out[ev]["delta_phi"] <= math.pi + 1e-9
        assert 0.0 < out[ev]["pt_ratio"] <= 1.0
        checked += 1
    assert checked >= 5


def test_softdrop_grooming_invariants(rng):
    from heparchy_spark.operators.jets import softdrop_cluster, synth_particles

    hs = [rng.integers(0, 2**63, 400).astype("uint64") for _ in range(3)]
    px, py, pz, e = synth_particles(*hs)
    rows = softdrop_cluster(px, py, pz, e, R=0.8, zcut=0.1, beta=0.0, ptmin=30.0)
    assert rows
    last_pt = float("inf")
    for jpt, gpt, gm, zg, rg, ncg in rows:
        assert jpt <= last_pt  # raw-pt ordered
        last_pt = jpt
        assert 0.0 < gpt <= jpt + 1e-9  # grooming only removes momentum
        assert ncg >= 1 and gm >= 0.0
        if zg == 0.0:
            assert rg == 0.0 and ncg == 1  # groomed to a single prong
        else:
            assert 0.1 <= zg <= 0.5 and 0.0 < rg  # passed the mMDT cut
            assert rg <= 2 * 0.8 + 1e-9


def test_softdrop_keeps_hard_two_prong():
    import numpy as np

    from heparchy_spark.operators.jets import softdrop_cluster

    # two hard prongs dR=0.4 apart + a soft wide-angle particle that C/A
    # merges LAST (largest angle) and soft drop must strip first
    def p4(pt, y, phi):
        px, py = pt * np.cos(phi), pt * np.sin(phi)
        pz = pt * np.sinh(y)
        return px, py, pz, np.sqrt(px * px + py * py + pz * pz)

    hard1 = p4(100.0, 0.0, 0.0)
    hard2 = p4(80.0, 0.0, 0.4)
    # wider than the prong separation from BOTH prongs (0.9 and 0.5 vs
    # 0.4), so C/A merges the prongs first and the soft one last
    soft = p4(1.0, 0.0, 0.9)
    px, py, pz, e = (np.array(v) for v in zip(hard1, hard2, soft))
    rows = softdrop_cluster(px, py, pz, e, R=0.8, zcut=0.1, beta=0.0, ptmin=30.0)
    assert len(rows) == 1
    jpt, gpt, gm, zg, rg, ncg = rows[0]
    assert ncg == 2  # the soft particle was dropped, both prongs kept
    assert abs(zg - 80.0 / 180.0) < 1e-6  # z_g = softer/(sum)
    assert abs(rg - 0.4) < 1e-6
    assert gpt < jpt  # lost the soft particle's pt


def test_softdrop_incremental_equals_naive():
    """The incremental tree-recording C/A kernel must replay the naive
    full-rebuild softdrop trajectory bit-exactly — same merges, same
    tree, same grooming decisions, same doubles — on random events,
    including ptmin=0 and single-particle events."""
    from build_expected import _jets_softdrop as softdrop_cluster_naive

    from heparchy_spark.operators.jets import softdrop_cluster

    rng = np.random.RandomState(17)
    for trial in range(6):
        n = rng.randint(1, 120)
        px = rng.standard_normal(n) * 10
        py = rng.standard_normal(n) * 10
        pz = rng.standard_normal(n) * 20
        e = np.sqrt(px**2 + py**2 + pz**2) * (1.0 + rng.rand(n) * 0.1)
        for ptmin in (0.0, 30.0):
            fast = softdrop_cluster(px, py, pz, e, ptmin=ptmin)
            slow = softdrop_cluster_naive(px, py, pz, e, ptmin=ptmin)
            assert fast == slow, f"trial {trial} ptmin={ptmin}: diverged"
