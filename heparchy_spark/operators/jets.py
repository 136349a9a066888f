"""Anti-kT jet clustering over per-event particle groups.

THE canonical operation of the reference's domain (heparchy stores HEP
event/particle four-momenta — `/root/reference/README.md:7-12`, pmu model
`/root/reference/heparchy/write/hdf.py:186-205` — and leaves kinematics to
caller-side NumPy): sequential-recombination jet finding with the anti-kT
measure (Cacciari, Salam, Soyez 2008, arXiv:0802.1189), E-scheme
recombination, rapidity-azimuth distance.

Spark shape: events are INDEPENDENT — the algorithm is sequential only
within one event's particle list (n ~ 100s), so events fan out across
every executor and the kernel runs per event.  One shuffle on the event
key, bounded per-event state, no driver involvement: the same per-event
parallelism a 100 TB reconstruction pipeline uses.  The fan-out rides
``mapInPandas`` over event-clustered, event-sorted partitions with a
carry-over buffer for events straddling Arrow batches — NOT per-group
``applyInPandas``, whose one-Arrow-roundtrip-per-200-row-group overhead
measured 4x slower at sf0.1 (3.3 s vs 0.8 s) for identical output.  The
O(n^2)-per-merge naive pairwise search is fine at n ~ 200; swap the
kernel for a FastJet-style tiled/Voronoi search if per-event
multiplicity grows to tens of thousands — the Spark plan is unchanged.

Determinism: every float op inside the kernel is plain NumPy double
arithmetic on inputs that are exact integers (JVM-side xxhash64) divided
by 2^32 — the fixture mirror in tools/build_expected.py runs the
IDENTICAL expressions, so the full merge trajectory replays bit-exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from heparchy_spark.functions.worker import worker_fn

__all__ = [
    "antikt_cluster",
    "softdrop_cluster",
    "softdrop_jets",
    "synth_particles",
    "antikt_jets",
    "genkt_jets",
]

TWO32 = float(1 << 32)


def _beam_weights(pt2: np.ndarray, p: float) -> np.ndarray:
    """Generalized-kT beam measure pt^(2p) (Cacciari, Salam, Soyez 2008):
    p = -1 anti-kT, p = 0 Cambridge/Aachen, p = 1 inclusive kT.  The
    p = -1 branch keeps the exact ``1.0 / pt2`` expression so the anti-kT
    trajectory (and its committed fixture) stays bit-identical."""
    if p == -1.0:
        return 1.0 / pt2
    if p == 0.0:
        return np.ones_like(pt2)
    if p == 1.0:
        return pt2.copy()
    return pt2 ** float(p)


def synth_particles(h1, h2, h3):
    """Deterministic particle kinematics from three 64-bit hash words
    (uniforms = low 32 bits / 2^32): pt in [1, 50), |eta| < 3.2, phi in
    (-pi, pi].  Returns (px, py, pz, e) float64 arrays — massless inputs.
    Identical expressions in the fixture mirror."""
    u1 = (h1 & 0xFFFFFFFF).astype("float64") / TWO32
    u2 = (h2 & 0xFFFFFFFF).astype("float64") / TWO32
    u3 = (h3 & 0xFFFFFFFF).astype("float64") / TWO32
    pt = 1.0 + 49.0 * u1 * u1
    eta = 6.4 * (u2 - 0.5)
    phi = 2.0 * np.pi * (u3 - 0.5)
    px = pt * np.cos(phi)
    py = pt * np.sin(phi)
    pz = pt * np.sinh(eta)
    e = pt * np.cosh(eta)
    return px, py, pz, e


def antikt_cluster(px, py, pz, e, R=0.4, ptmin=5.0, p=-1.0):
    """Generalized-kT sequential recombination on one event's particles
    (``p``: -1 anti-kT, 0 Cambridge/Aachen, 1 kT; default anti-kT).

    Returns a list of (n_constituents, pt, y, phi, mass) tuples for jets
    with pt >= ptmin, sorted by pt descending.  Distance measures:
    d_ij = min(ptI^-2, ptJ^-2) * dR^2 / R^2 with dR^2 = dy^2 + dphi^2
    (rapidity-azimuth), d_iB = ptI^-2; E-scheme (four-vector sum)
    recombination — the standard inclusive algorithm.

    Incremental kernel: only the merged pseudojet's distance row/column
    is recomputed after a merge (O(n^2) per event vs the O(n^3)
    full-matrix rebuild — ~20x at n=200).  Every pairwise distance is
    the SAME elementwise expression the full rebuild evaluates, untouched
    particles keep their cached doubles, and the masked row-major argmin
    visits survivors in the same relative order as the rebuild's
    compacted triu scan — so the merge trajectory (and the fixture hash)
    is bit-identical to the full-rebuild mirror ``_jets_cluster`` in
    tools/build_expected.py (``test_incremental_kernel_equals_naive``).
    """
    px = np.asarray(px, dtype="float64").copy()
    py = np.asarray(py, dtype="float64").copy()
    pz = np.asarray(pz, dtype="float64").copy()
    e = np.asarray(e, dtype="float64").copy()
    n0 = len(px)
    if n0 == 0:
        return []
    nc = np.ones(n0, dtype="int64")
    alive = np.ones(n0, dtype=bool)
    pt2 = px * px + py * py
    inv = _beam_weights(pt2, p)
    y = 0.5 * np.log((e + pz) / (e - pz))
    phi = np.arctan2(py, px)
    R2 = R * R
    INF = np.inf

    # full initial matrix via the full-rebuild form's exact expressions
    dy = y[:, None] - y[None, :]
    dphi = np.abs(phi[:, None] - phi[None, :])
    dphi = np.where(dphi > np.pi, 2.0 * np.pi - dphi, dphi)
    dr2 = dy * dy + dphi * dphi
    D = np.minimum(inv[:, None], inv[None, :]) * dr2 / R2
    D[np.tril_indices(n0, k=0)] = INF  # only i<j entries compete

    inv_m = inv.copy()  # masked view for beam argmin
    jets = []

    def _update_row(i: int) -> None:
        """Recompute distances of pseudojet i vs every other alive one —
        elementwise the same expressions as the full-matrix build."""
        others = np.where(alive)[0]
        others = others[others != i]
        if not len(others):
            return
        dy_r = y[i] - y[others]
        dphi_r = np.abs(phi[i] - phi[others])
        dphi_r = np.where(dphi_r > np.pi, 2.0 * np.pi - dphi_r, dphi_r)
        dr2_r = dy_r * dy_r + dphi_r * dphi_r
        d_r = np.minimum(inv[i], inv[others]) * dr2_r / R2
        lo = others < i
        D[others[lo], i] = d_r[lo]
        D[i, others[~lo]] = d_r[~lo]

    remaining = n0
    while remaining:
        kb = int(np.argmin(inv_m))
        if remaining == 1:
            pair = None
        else:
            k = int(np.argmin(D))
            i, j = divmod(k, n0)
            pair = None if inv_m[kb] <= D[i, j] else (i, j)
        if pair is None:
            b = kb
            jpt = float(np.sqrt(pt2[b]))
            if jpt >= ptmin:
                m2 = float(e[b] ** 2 - px[b] ** 2 - py[b] ** 2 - pz[b] ** 2)
                jets.append(
                    (
                        int(nc[b]),
                        jpt,
                        float(y[b]),
                        float(phi[b]),
                        float(np.sqrt(max(m2, 0.0))),
                    )
                )
            alive[b] = False
            inv_m[b] = INF
            D[b, :] = INF
            D[:, b] = INF
        else:
            i, j = pair
            px[i] += px[j]
            py[i] += py[j]
            pz[i] += pz[j]
            e[i] += e[j]
            nc[i] += nc[j]
            pt2[i] = px[i] * px[i] + py[i] * py[i]
            inv[i] = _beam_weights(pt2[i : i + 1], p)[0]
            y[i] = 0.5 * np.log((e[i] + pz[i]) / (e[i] - pz[i]))
            phi[i] = float(np.arctan2(py[i], px[i]))
            inv_m[i] = inv[i]
            alive[j] = False
            inv_m[j] = INF
            D[j, :] = INF
            D[:, j] = INF
            _update_row(i)
        remaining -= 1
    jets.sort(key=lambda t: -t[1])
    return jets


def _per_event_map(src: DataFrame, kernel, schema: str) -> DataFrame:
    """Run ``kernel(pdf) -> pdf`` once per event over an event-keyed
    frame (column ``jev``): hash-cluster partitions on the event key,
    sort rows (jev, h1) for a deterministic in-event order, then stream
    Arrow batches through ``mapInPandas`` with a carry-over buffer so an
    event straddling a batch boundary is processed whole.  One shuffle
    and one Python eval per ~10k-row Arrow batch — per-group
    ``applyInPandas`` paid that eval once per 200-row event (measured
    4x slower for identical output)."""

    def run(batches):
        buf = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf["jev"].iloc[-1]
            buf = pdf[pdf["jev"] == last]
            head = pdf[pdf["jev"] != last]
            if len(head):
                # One yield (= one Arrow batch) per INPUT batch, not per
                # event — hundreds of tiny yields re-create the per-group
                # overhead this helper exists to avoid.
                yield pd.concat(
                    [
                        kernel(g)
                        for _, g in head.groupby("jev", sort=True)
                    ],
                    ignore_index=True,
                )
        if buf is not None and len(buf):
            yield kernel(buf)

    # Explicit partition count: a bare repartition("jev") is an AQE
    # coalesce target, and at bench scale AQE folds the ~MB shuffle into
    # ONE partition — serializing every event kernel onto one core
    # (measured 3.4 s vs 0.9 s).  The explicit number pins the fan-out.
    n_part = int(
        src.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    rep = src.repartition(n_part, "jev").sortWithinPartitions("jev", "h1")
    return rep.mapInPandas(worker_fn(run), schema)


def genkt_jets(
    events: DataFrame,
    event_col: str = "event_id",
    particles_per_event: int = 200,
    R: float = 0.4,
    ptmin: float = 5.0,
    p: float = -1.0,
) -> DataFrame:
    """Cluster hash-synthesized particles (one per input row, grouped into
    collision events of ``particles_per_event`` rows) into generalized-kT
    jets (``p``: -1 anti-kT, 0 Cambridge/Aachen, 1 kT).

    Output: (jet_event, jet_rank, n_constituents, jet_pt, jet_y, jet_phi,
    jet_mass) — pt-ordered per event, kinematics rounded to 6.
    """
    src = events.select(
        (F.col(event_col) / F.lit(particles_per_event))
        .cast("long")
        .alias("jev"),
        *[
            F.xxhash64(F.col(event_col), F.lit(j)).alias(f"h{j}")
            for j in (1, 2, 3)
        ],
    )

    def cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        px, py, pz, e = synth_particles(
            pdf["h1"].to_numpy().astype("uint64"),
            pdf["h2"].to_numpy().astype("uint64"),
            pdf["h3"].to_numpy().astype("uint64"),
        )
        jets = antikt_cluster(px, py, pz, e, R=R, ptmin=ptmin, p=p)
        jev = int(pdf["jev"].iloc[0])
        return pd.DataFrame(
            [
                (jev, r + 1, ncon, jpt, jy, jphi, jm)
                for r, (ncon, jpt, jy, jphi, jm) in enumerate(jets)
            ],
            columns=[
                "jet_event",
                "jet_rank",
                "n_constituents",
                "jet_pt",
                "jet_y",
                "jet_phi",
                "jet_mass",
            ],
        )

    out = _per_event_map(
        src,
        cluster,
        "jet_event long, jet_rank int, n_constituents long, "
        "jet_pt double, jet_y double, jet_phi double, jet_mass double",
    )
    return out.select(
        "jet_event",
        "jet_rank",
        "n_constituents",
        F.round("jet_pt", 6).alias("jet_pt"),
        F.round("jet_y", 6).alias("jet_y"),
        F.round("jet_phi", 6).alias("jet_phi"),
        F.round("jet_mass", 6).alias("jet_mass"),
    )


def antikt_jets(
    events: DataFrame,
    event_col: str = "event_id",
    particles_per_event: int = 200,
    R: float = 0.4,
    ptmin: float = 5.0,
) -> DataFrame:
    """Anti-kT member of :func:`genkt_jets` (p = -1) — the standard
    inclusive jet algorithm."""
    return genkt_jets(
        events, event_col, particles_per_event, R=R, ptmin=ptmin, p=-1.0
    )


def _groom_jets(nodes, jets, R, zcut, beta):
    """Soft-drop walk over the recorded C/A merge tree: it only reads
    recorded nodes, so equal trees give identical doubles."""
    out = []
    for jpt, root in jets:
        node = root
        zg = 0.0
        rg = 0.0
        while True:
            _, _, _, _, lf, rt, _ = nodes[node]
            if lf < 0:
                zg = 0.0
                rg = 0.0
                break
            lpx, lpy, lpz, le = nodes[lf][:4]
            rpx, rpy, rpz, re_ = nodes[rt][:4]
            ptl = float(np.sqrt(lpx * lpx + lpy * lpy))
            ptr = float(np.sqrt(rpx * rpx + rpy * rpy))
            yl = float(0.5 * np.log((le + lpz) / (le - lpz)))
            yr = float(0.5 * np.log((re_ + rpz) / (re_ - rpz)))
            phl = float(np.arctan2(lpy, lpx))
            phr = float(np.arctan2(rpy, rpx))
            dph = abs(phl - phr)
            if dph > float(np.pi):
                dph = 2.0 * float(np.pi) - dph
            dyy = yl - yr
            rg_c = float(np.sqrt(dyy * dyy + dph * dph))
            z = min(ptl, ptr) / (ptl + ptr)
            if z >= zcut * (rg_c / R) ** beta:
                zg = z
                rg = rg_c
                break
            node = lf if ptl >= ptr else rt
        gpx, gpy, gpz, ge, _, _, gnc = nodes[node]
        gpt = float(np.sqrt(gpx * gpx + gpy * gpy))
        gm2 = ge * ge - gpx * gpx - gpy * gpy - gpz * gpz
        gm = float(np.sqrt(max(gm2, 0.0)))
        out.append((jpt, gpt, gm, zg, rg, gnc))
    return out


def softdrop_cluster(px, py, pz, e, R=0.8, zcut=0.1, beta=0.0, ptmin=30.0):
    """Cambridge/Aachen clustering with merge-TREE recording, then
    soft-drop grooming (Larkoski, Marzani, Soyez, Thaler 2014,
    arXiv:1402.2657; beta=0 is the modified MassDrop tagger) of every
    jet above ``ptmin``.

    Walk: from the jet root, split the last C/A merge into its two
    subjets; if ``min(pt1,pt2)/(pt1+pt2) < zcut * (dR12/R)^beta`` the
    softer branch is dropped (the split was soft wide-angle radiation)
    and the walk recurses into the harder one; the first split passing
    the condition defines the groomed jet, its ``z_g`` and ``r_g``.
    Jets groomed all the way to a single constituent report z_g=r_g=0.

    Returns [(pt_raw, pt_groomed, m_groomed, z_g, r_g, n_con_groomed)]
    sorted by raw pt descending.

    Incremental kernel, same contract as :func:`antikt_cluster`: only
    the merged pseudojet's distance row/column recomputes after a merge
    (O(n^2) per event vs the O(n^3) rebuild), every distance is the
    SAME elementwise expression the full rebuild evaluates, and the
    masked row-major argmin visits survivors in the rebuild's compacted
    triu order — so the merge TREE, the grooming walk, and the
    committed fixture are bit-identical to the full-rebuild mirror
    ``_jets_softdrop`` in tools/build_expected.py
    (``test_softdrop_incremental_equals_naive``).
    """
    px = np.asarray(px, dtype="float64").copy()
    py = np.asarray(py, dtype="float64").copy()
    pz = np.asarray(pz, dtype="float64").copy()
    e = np.asarray(e, dtype="float64").copy()
    n0 = len(px)
    if n0 == 0:
        return []
    nodes: list[tuple] = [
        (float(px[i]), float(py[i]), float(pz[i]), float(e[i]), -1, -1, 1)
        for i in range(n0)
    ]
    nid = list(range(n0))
    nc = np.ones(n0, dtype="int64")
    alive = np.ones(n0, dtype=bool)
    pt2 = px * px + py * py
    inv = np.ones_like(pt2)  # C/A: pure angular ordering
    y = 0.5 * np.log((e + pz) / (e - pz))
    phi = np.arctan2(py, px)
    R2 = R * R
    INF = np.inf

    dy = y[:, None] - y[None, :]
    dphi = np.abs(phi[:, None] - phi[None, :])
    dphi = np.where(dphi > np.pi, 2.0 * np.pi - dphi, dphi)
    dr2 = dy * dy + dphi * dphi
    D = np.minimum(inv[:, None], inv[None, :]) * dr2 / R2
    D[np.tril_indices(n0, k=0)] = INF

    inv_m = inv.copy()
    jets = []

    def _update_row(i: int) -> None:
        others = np.where(alive)[0]
        others = others[others != i]
        if not len(others):
            return
        dy_r = y[i] - y[others]
        dphi_r = np.abs(phi[i] - phi[others])
        dphi_r = np.where(dphi_r > np.pi, 2.0 * np.pi - dphi_r, dphi_r)
        dr2_r = dy_r * dy_r + dphi_r * dphi_r
        d_r = np.minimum(inv[i], inv[others]) * dr2_r / R2
        lo = others < i
        D[others[lo], i] = d_r[lo]
        D[i, others[~lo]] = d_r[~lo]

    remaining = n0
    while remaining:
        kb = int(np.argmin(inv_m))
        if remaining == 1:
            pair = None
        else:
            k = int(np.argmin(D))
            i, j = divmod(k, n0)
            pair = None if inv_m[kb] <= D[i, j] else (i, j)
        if pair is None:
            b = kb
            jpt = float(np.sqrt(pt2[b]))
            if jpt >= ptmin:
                jets.append((jpt, nid[b]))
            alive[b] = False
            inv_m[b] = INF
            D[b, :] = INF
            D[:, b] = INF
        else:
            i, j = pair
            px[i] += px[j]
            py[i] += py[j]
            pz[i] += pz[j]
            e[i] += e[j]
            nc[i] += nc[j]
            nodes.append(
                (
                    float(px[i]),
                    float(py[i]),
                    float(pz[i]),
                    float(e[i]),
                    nid[i],
                    nid[j],
                    int(nc[i]),
                )
            )
            nid[i] = len(nodes) - 1
            pt2[i] = px[i] * px[i] + py[i] * py[i]
            y[i] = 0.5 * np.log((e[i] + pz[i]) / (e[i] - pz[i]))
            phi[i] = float(np.arctan2(py[i], px[i]))
            alive[j] = False
            inv_m[j] = INF
            D[j, :] = INF
            D[:, j] = INF
            _update_row(i)
        remaining -= 1
    jets.sort(key=lambda t: -t[0])
    return _groom_jets(nodes, jets, R, zcut, beta)


def softdrop_jets(
    events: DataFrame,
    event_col: str = "event_id",
    particles_per_event: int = 200,
    R: float = 0.8,
    zcut: float = 0.1,
    beta: float = 0.0,
    ptmin: float = 30.0,
) -> DataFrame:
    """Soft-drop-groomed fat jets over hash-synthesized collision events
    — same batched mapInPandas fan-out as :func:`genkt_jets`; per-event
    sequential kernel, events embarrassingly parallel."""
    src = events.select(
        (F.col(event_col) / F.lit(particles_per_event))
        .cast("long")
        .alias("jev"),
        *[
            F.xxhash64(F.col(event_col), F.lit(j)).alias(f"h{j}")
            for j in (1, 2, 3)
        ],
    )

    def groom(pdf: pd.DataFrame) -> pd.DataFrame:
        px, py, pz, e = synth_particles(
            pdf["h1"].to_numpy().astype("uint64"),
            pdf["h2"].to_numpy().astype("uint64"),
            pdf["h3"].to_numpy().astype("uint64"),
        )
        rows = softdrop_cluster(
            px, py, pz, e, R=R, zcut=zcut, beta=beta, ptmin=ptmin
        )
        jev = int(pdf["jev"].iloc[0])
        return pd.DataFrame(
            [
                (jev, r + 1, jpt, gpt, gm, zg, rg, ncg)
                for r, (jpt, gpt, gm, zg, rg, ncg) in enumerate(rows)
            ],
            columns=[
                "jet_event",
                "jet_rank",
                "pt_raw",
                "pt_groomed",
                "m_groomed",
                "z_g",
                "r_g",
                "n_con_groomed",
            ],
        )

    out = _per_event_map(
        src,
        groom,
        "jet_event long, jet_rank int, pt_raw double, pt_groomed double, "
        "m_groomed double, z_g double, r_g double, n_con_groomed long",
    )
    return out.select(
        "jet_event",
        "jet_rank",
        F.round("pt_raw", 6).alias("pt_raw"),
        F.round("pt_groomed", 6).alias("pt_groomed"),
        F.round("m_groomed", 6).alias("m_groomed"),
        F.round("z_g", 6).alias("z_g"),
        F.round("r_g", 6).alias("r_g"),
        "n_con_groomed",
    )
