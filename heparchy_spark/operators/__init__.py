"""Custom operators the reference implies but Spark lacks as built-ins.

Each operator is a composition of DataFrame primitives first (so Catalyst
still owns the physical plan), a Pandas-UDF fallback only where column
algebra genuinely can't express the semantics (SURVEY.md §2.11).

Modules:
- ``asof``       — as-of join (union + single window, no range explosion)
- ``dedup``      — exact, MinHash+LSH, SimHash, n-gram Jaccard
- ``banding``    — Hamming multi-index banding (SimHash/dHash/pHash pairs)
- ``similarity`` — cosine top-k, hyperplane LSH, IVF index
- ``text``       — token counts, char stats, quality, lang-id, fingerprints
- ``multimodal`` — binary payload columns: sniff/stats/decode/frames
- ``layout``     — bucketed co-located joins, skew salting, Z-order/Hilbert
- ``timeseries`` — resample, gap-fill, LOCF, linear interpolation
- ``topk``       — two-phase bounded top-k per group (giant-group path)
- ``dataset``    — splits, sampling (stratified/weighted/temperature),
                   packing, mixing, DSIR weights, contrastive negatives
- ``classifier`` — hashed-feature logistic quality filter (train + score)
- ``sketch``     — Count-Min, HyperLogLog ledgers and set algebra
- ``graph``      — PageRank, connected components, triangles, k-core
- ``clustering`` — full-corpus distributed Lloyd k-means
- ``jets``       — anti-kT/C-A jet finding + soft-drop grooming
- ``hierarchy``  — event-generation DAG reachability (decay masks)
- ``sweep``      — distributed prefix sum (parallel scan)
- ``skyline``    — 2D Pareto frontier via distributed prefix max
- ``density``    — grid-partitioned DBSCAN building blocks
- ``drift``      — KS / PSI / log-odds distribution drift
- ``upsert``     — lakehouse MERGE, SCD2 history, incremental SCD2
- ``funnel``     — multi-stage conversion funnels (strict / time-bounded)
- ``fuzzy``      — blocked edit-distance record linkage
- ``web``        — URL canonicalization; ``psl`` — public-suffix snapshot
"""

from heparchy_spark.operators import (  # noqa: F401
    asof,
    banding,
    classifier,
    clustering,
    dataset,
    dedup,
    density,
    drift,
    funnel,
    fuzzy,
    graph,
    hierarchy,
    jets,
    layout,
    multimodal,
    psl,
    similarity,
    sketch,
    skyline,
    sweep,
    text,
    timeseries,
    topk,
    upsert,
    web,
)
from heparchy_spark.operators.asof import asof_join  # noqa: F401

__all__ = [
    "asof",
    "banding",
    "classifier",
    "clustering",
    "dataset",
    "dedup",
    "density",
    "drift",
    "funnel",
    "fuzzy",
    "graph",
    "hierarchy",
    "jets",
    "layout",
    "multimodal",
    "psl",
    "similarity",
    "sketch",
    "skyline",
    "sweep",
    "text",
    "timeseries",
    "topk",
    "upsert",
    "web",
    "asof_join",
]
