"""Every reader of a query's plan text, and the plan rules, built on
``df._jdf.queryExecution()`` (classic local mode).

The per-property readers (``scan_columns``, ``pushed_filters``,
``has_partition_filters``, ``has_broadcast_join``, ``shuffle_count``)
prove column pruning, pushdown, partition pruning (SURVEY.md P1-P3) and
join/shuffle shape.  ``plan_facts`` renders the executed and analyzed
plans once each into a ``PlanFacts`` record; the scale-killer rules
(``violations``), the committed fingerprint (``fingerprint``), the corpus
loop (``offenders``) and ``tools/plan_audit.py`` read only that record, so
a new rule is a change to this file alone.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterable

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    from heparchy_spark.queries import QuerySpec

# Vectorized Python map nodes (Arrow batches to a Python worker); a
# grouped-aggregate UDF plans as ``ArrowAggregatePython`` from Spark 4.1,
# ``AggregateInPandas`` before
_PYMAP_VECTORIZED = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "AggregateInPandas",
    "ArrowAggregatePython",
)
# Python map nodes, for the broadcast walk of ``_pymap_broadcasts``
_PYMAP = (*_PYMAP_VECTORIZED, "BatchEvalPython")

# Counted operator markers of the executed plan, coarse enough to survive
# cosmetic plan-string churn: each counts every occurrence of any of its
# node names.  ``shuffle`` counts every substring, an AQE initial plan
# included: the committed fingerprints are pinned to that.
MARKERS = {
    "broadcast_hash_join": ("BroadcastHashJoin",),
    "sort_merge_join": ("SortMergeJoin",),
    "broadcast_nested_loop": ("BroadcastNestedLoopJoin",),
    "cartesian": ("CartesianProduct",),
    "shuffle": ("Exchange hashpartitioning",),
    "range_exchange": ("Exchange rangepartitioning",),
    "expand": ("Expand",),
    "generate": ("Generate",),
    "python_worker": ("BatchEvalPython",),  # row-Python UDF: should stay 0
    "python_map": _PYMAP_VECTORIZED,
}

# Iterative operators that materialize INSIDE the call: their executedPlan
# depends on what the CacheManager already holds, so they get no
# fingerprint (``offenders`` still covers them).
RUNTIME_MATERIALIZED = {
    "graph_hits_supply",
    "graph_sssp_supply_cost",
    "text_textrank_keywords",  # pagerank materializes internally
    "graph_ppr_supply_seeded",  # personalized_pagerank materializes
    "graph_pagerank_supply_network",  # persist + count at build
    "graph_boruvka_forest",  # per-round pick counts
    "graph_kcore_supply",  # peel-fixpoint change counts
    "graph_bfs_hops",  # per-level frontier emptiness probes
    "dedup_entity_resolution",  # connected-components fixpoint counts
    "dedup_fs_em_params",  # pattern-rollup collect feeds driver-side EM
    "dataset_kcenter_coreset",  # per-round argmax collects + checkpoints
    "text_unigram_lm_vocab",  # per-iteration EM collects on the word table
    "text_unigram_encode_counts",  # trains (collects) before encoding
    "text_lm_perplexity",  # trains (collects) before scoring
    "similarity_incremental_ivf_assign",  # train_centroids collects at build
    "similarity_ivf_recall_at_k",  # train_centroids collects at build
    "dataset_leakage_safe_split",  # connected-components fixpoint counts
}

# Join hints that pin a spillable, AQE-skew-splittable shape at any size.
_DEMOTION_HINTS = frozenset({"merge", "shuffle_hash"})
_HINT_RE = re.compile(r"ResolvedHint \(strategy=(\w+)")
# Unpartitioned window: the spec's FIRST element is an order entry
# (attr ASC/DESC) or the frame itself — no partition columns.
_GLOBAL_WINDOW_RE = re.compile(
    r"windowspecdefinition\((?:\w+#\d+\w* (?:ASC|DESC)|specifiedwindowframe)"
)
_BROADCAST_JOINS = ("broadcast_hash_join", "broadcast_nested_loop")
_SHUFFLE_RE = re.compile(
    r"(?<!Reused)Exchange (?:hashpartitioning|rangepartitioning|"
    r"SinglePartition|RoundRobinPartitioning)"
)


def physical_plan(df: DataFrame) -> str:
    """The (pre-execution) physical plan string."""
    return df._jdf.queryExecution().sparkPlan().toString()


def executed_plan(df: DataFrame) -> str:
    """The executed plan string (includes AQE final plan after an action)."""
    return df._jdf.queryExecution().executedPlan().toString()


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Column names in each Parquet scan's ReadSchema, one list per scan."""
    plan = executed_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [
            f.split(":")[0].strip() for f in m.group(1).split(",") if f.strip()
        ]
        out.append(cols)
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """Flattened PushedFilters entries across all scans."""
    plan = executed_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def has_partition_filters(df: DataFrame, *cols: str) -> bool:
    """True if every named column appears in some scan's PartitionFilters."""
    plan = executed_plan(df)
    filters = " ".join(
        m.group(1) for m in re.finditer(r"PartitionFilters: \[([^\]]+)\]", plan)
    )
    return all(c in filters for c in cols)


def has_broadcast_join(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return any(m in plan for k in _BROADCAST_JOINS for m in MARKERS[k])


def _shuffle_count(plan: str) -> int:
    return len(_SHUFFLE_RE.findall(plan.split("== Initial Plan ==")[0]))


def shuffle_count(df: DataFrame) -> int:
    """Shuffle exchanges in the final plan (printed before an AQE initial
    plan).  BroadcastExchange is not one; Spark 4.1 prints a reused
    exchange as ``ReusedExchange [cols], Exchange ...``, which counts."""
    return _shuffle_count(executed_plan(df))


def _codegen_ids(plan: str) -> set[int]:
    # verbose ``WholeStageCodegen (n)`` node names and compact ``*(n)``
    ids = {
        int(m.group(1))
        for m in re.finditer(r"WholeStageCodegen \((\d+)\)", plan)
    }
    ids |= {int(m.group(1)) for m in re.finditer(r"\*\((\d+)\)", plan)}
    return ids


def _pymap_broadcasts(plan: str) -> int:
    """Broadcast exchanges whose subtree contains a Python map node, by
    indentation walk of the plan-tree text.

    Catalyst sizes a Python map frame from its (possibly column-pruned)
    child scan, so such a broadcast rests on an estimate that can be off
    by the full Python output width times any explode multiplier, and a
    static BHJ with no shuffle below it is never demoted by AQE.  Bounded
    frames are fine; a nonzero count is a site to audit, not an error."""

    def indent(line: str) -> int:
        m = re.search(r"[A-Za-z*+]", line)
        return m.start() if m else len(line)

    lines = plan.splitlines()
    hits = 0
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d = indent(ln)
        for j in range(i + 1, len(lines)):
            if indent(lines[j]) <= d:
                break
            if any(mk in lines[j] for mk in _PYMAP):
                hits += 1
                break
    return hits


@dataclass(frozen=True)
class PlanFacts:
    """What the rules, the fingerprint and the audit read off one plan."""

    markers: dict[str, int]  # MARKERS counts over the executed plan
    escalating_hints: frozenset[str]  # analyzed-plan hints minus demotions
    global_window: bool  # an unpartitioned window in the executed plan
    pymap_broadcasts: int  # broadcasts built over a Python map node
    shuffle_count: int  # final-plan exchanges (see shuffle_count)
    scan_count: int  # "Scan parquet" occurrences
    codegen_spans: int  # distinct WholeStageCodegen ids
    broadcast_join: bool  # any BroadcastHashJoin / BroadcastNestedLoopJoin


def facts_from_plan(executed: str, analyzed: str) -> PlanFacts:
    """Reduce an executed-plan and an analyzed-plan string to facts."""
    markers = {k: sum(map(executed.count, v)) for k, v in MARKERS.items()}
    return PlanFacts(
        markers=markers,
        escalating_hints=frozenset(_HINT_RE.findall(analyzed))
        - _DEMOTION_HINTS,
        global_window=bool(_GLOBAL_WINDOW_RE.search(executed)),
        pymap_broadcasts=_pymap_broadcasts(executed),
        shuffle_count=_shuffle_count(executed),
        scan_count=executed.count("Scan parquet"),
        codegen_spans=len(_codegen_ids(executed)),
        broadcast_join=any(markers[k] for k in _BROADCAST_JOINS),
    )


def plan_facts(df: DataFrame) -> PlanFacts:
    """Render ``df``'s executed and analyzed plans once each and reduce
    them to a ``PlanFacts`` record."""
    qe = df._jdf.queryExecution()
    return facts_from_plan(
        qe.executedPlan().toString(), qe.analyzed().toString()
    )


def violations(spec: QuerySpec, facts: PlanFacts) -> list[str]:
    """The scale-killer rules: the offender kinds of one query's plan,
    against the declarations of its ``QuerySpec`` (which says why each
    exists).

    - ``cartesian``: a CartesianProduct, always.
    - ``unexpected-BNLJ`` / ``row-python-udf``: a BroadcastNestedLoopJoin
      or a row-at-a-time Python UDF without ``expects_bnlj`` /
      ``expects_row_udf``.
    - ``undeclared-broadcast-hint`` / ``stale-broadcast-declaration``: an
      escalating hint (broadcast, shuffle_replicate_nl) in the ANALYZED
      plan without ``expects_broadcast``, or the declaration without the
      hint.  Demotion hints (merge, shuffle_hash) pin a spillable,
      AQE-skew-splittable shape and need no declaration.
    - ``undeclared-global-window`` / ``stale-global-window-declaration``:
      the same for an unpartitioned window and ``expects_global_window``.

    A stale declaration fails because it would let a later, unbounded
    instance of the same shape slip in undeclared.
    """
    found = []
    if facts.markers["cartesian"]:
        found.append("cartesian")
    if facts.markers["broadcast_nested_loop"] and not spec.expects_bnlj:
        found.append("unexpected-BNLJ")
    if facts.markers["python_worker"] and not spec.expects_row_udf:
        found.append("row-python-udf")
    if facts.escalating_hints and spec.expects_broadcast is None:
        found.append("undeclared-broadcast-hint")
    if not facts.escalating_hints and spec.expects_broadcast is not None:
        found.append("stale-broadcast-declaration")
    if facts.global_window and spec.expects_global_window is None:
        found.append("undeclared-global-window")
    if not facts.global_window and spec.expects_global_window is not None:
        found.append("stale-global-window-declaration")
    return found


def fingerprint(facts: PlanFacts) -> dict[str, int]:
    """The ``tests/fixtures/plan_shapes.json`` entry of one query."""
    return dict(facts.markers)


def offenders(
    spark: SparkSession, sf_dir: str, names: Iterable[str]
) -> list[tuple[str, str]]:
    """``(query, offender kind)`` for every rule the named registered
    queries break when planned over ``sf_dir`` (final frames are not
    executed)."""
    # imported here: operators import this package, queries import operators
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    out = []
    for name in names:
        spec = REGISTRY[name]
        facts = plan_facts(spec.spark(spark, sf_dir))
        out.extend((name, kind) for kind in violations(spec, facts))
    return out
