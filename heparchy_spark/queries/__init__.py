"""Query registry — the driver-facing corpus.

Each query is registered once with a name, a Spark builder
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) the equivalent
DuckDB oracle SQL.  ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
views over this registry.

Column-naming contract: the driver sorts result columns by name and hashes
values, so every computed column is aliased identically in the Spark builder
and the oracle SQL.

Float determinism contract: double-sum aggregates accumulate in
``DECIMAL(38,10)`` (exact) in BOTH engines and cast back to double, so the
value hash is independent of partial-aggregation order.  See
``heparchy_spark.queries.numeric``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "QuerySpec",
    "REGISTRY",
    "register",
    "spark_queries",
    "oracle_map",
    "expected_fixture_sql",
]

_EXPECTED_DIR = (
    Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "expected_sf0_01"
)


def expected_fixture_sql(name: str) -> str:
    """Oracle SQL for queries whose expected values cannot be recomputed in
    portable SQL (xxhash64 signatures, zlib CRCs, NumPy byte statistics).

    The values are precomputed ONCE in plain Python — no Spark — by
    ``tools/build_expected.py`` (pure-Python xxHash-64 pinned against
    Spark's, stdlib zlib, the same NumPy reductions) at sf0.01, the
    driver's correctness scale, and committed as parquet under
    ``tests/fixtures``.  Reading them back IS the independent check: the
    driver's row-count + schema + value-hash comparison now runs against
    an implementation that shares no code with the Spark query.
    """
    path = _EXPECTED_DIR / f"{name}.parquet"
    return (
        f"-- expected values precomputed in plain Python at sf0.01\n"
        f"-- (tools/build_expected.py); independent of the Spark runtime\n"
        f"SELECT * FROM read_parquet('{path}')"
    )

SparkBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkBuilder
    oracle: str | None  # None -> driver records rows-only check
    doc: str = ""
    # Plan-shape declarations, read from the registry by the scale-killer
    # rules (heparchy_spark.plans.violations: tools/plan_gate.py and the
    # corpus-wide test), so no hand list goes stale when a query lands.
    # A BroadcastNestedLoopJoin (the scalar-subquery / bounded-broadcast
    # pattern) or a row-at-a-time Python UDF (the one UDTF slow-path demo)
    # must be declared:
    expects_bnlj: bool = False
    expects_row_udf: bool = False
    # WHY an explicitly hinted frame is bounded (e.g. "nation/region
    # dims", "1-row global stats", "top-k vocab").  A hint is honored at
    # any size — AQE never demotes it — so a hint on a frame that grows
    # with the fact tables fails above Spark's 8 GB broadcast cap, at a
    # scale no local bench sees (the round-8 verdict found 17 such
    # queries green for 7 rounds).  Such frames stay unhinted: AQE picks
    # BHJ when the side fits and SMJ when it doesn't.
    expects_broadcast: str | None = None
    # WHY the frame under an unpartitioned window (Window.orderBy, a
    # global frame) is bounded (e.g. "9-row Benford digit table").  Such
    # a window funnels its whole frame through ONE task; frames that
    # scale use the distributed rank machinery instead (range-bucket +
    # partitioned in-bucket windows + offset maps, see
    # queries/relational.py orders_rfm_segments).
    expects_global_window: str | None = None


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    *,
    expects_bnlj: bool = False,
    expects_row_udf: bool = False,
    expects_broadcast: str | None = None,
    expects_global_window: str | None = None,
):
    """Decorator: register a Spark query builder with its oracle SQL.

    The ``expects_*`` keywords are the plan-shape declarations of
    ``QuerySpec``.
    """

    def deco(fn: SparkBuilder) -> SparkBuilder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            spark=fn,
            oracle=oracle,
            doc=doc,
            expects_bnlj=expects_bnlj,
            expects_row_udf=expects_row_udf,
            expects_broadcast=expects_broadcast,
            expects_global_window=expects_global_window,
        )
        return fn

    return deco


def _load_all() -> None:
    # Import side-effect modules that populate REGISTRY.
    from heparchy_spark.queries import (  # noqa: F401
        basket,
        dataset,
        dedup,
        density,
        drift,
        graph,
        history,
        layout,
        multimodal,
        physics,
        profiling,
        relational,
        similarity,
        sketch,
        skyline,
        streaming_like,
        sweep,
        text,
        tpch,
        web,
    )


def _driver_evidence() -> tuple[dict[str, int], tuple[str, ...], tuple[str, ...]]:
    """Derive the driver-evidence tiers from the committed
    ``CORRECTNESS_r*.json`` files themselves — no hand-maintained name
    lists to go stale between rounds (the round-2 verdict's task 3,
    made permanent).

    * checked  = per query, the LATEST round number a driver row exists
      for;
    * retry    = every query whose LATEST driver row — latest for THAT
      query, across all rounds, not just the newest file — is red (an
      error, or any of the rows/schema/hash comparisons false).  These
      must re-verify before anything else in the window.  (Round-6
      verdict fix: reading only the newest file's reds left queries
      whose only driver evidence was an old round's error parked behind
      the reverify queue forever.)
    * reverify = names listed in ``REVERIFY.json`` (written by
      ``tools/mark_reverify.py`` from the round's git diff) whose last
      driver check PRECEDES that file's round — queries edited since
      their last green check.  Once a driver round >= the listed round
      has checked a name, the entry expires on its own.
    """
    root = Path(__file__).resolve().parents[2]
    files = sorted(root.glob("CORRECTNESS_r*.json"))
    checked: dict[str, int] = {}
    latest_red: dict[str, bool] = {}
    import json as _json
    import re as _re

    for p in files:
        try:
            data = _json.loads(p.read_text())
        except (OSError, ValueError):  # pragma: no cover - corrupt file
            continue
        if not isinstance(data, dict):
            continue
        m = _re.search(r"r(\d+)", p.name)
        rnd = int(m.group(1)) if m else 0
        for name, row in data.items():
            if not isinstance(name, str):
                continue
            if rnd < checked.get(name, 0):
                continue  # an older row never overrides a newer verdict
            checked[name] = rnd
            latest_red[name] = isinstance(row, dict) and (
                row.get("err") is not None
                or any(
                    row.get(k) is False
                    for k in ("rows_match", "schema_match", "hash_match")
                )
            )
    retry = tuple(n for n, red in latest_red.items() if red)

    reverify: tuple[str, ...] = ()
    try:
        rv = _json.loads((root / "REVERIFY.json").read_text())
        entries = rv.get("entries")
        if isinstance(entries, dict):
            # v2 format: per-name round (mark_reverify merges unexpired
            # carryover entries across regenerations, so one round's
            # regenerate never drops an earlier round's backlog)
            reverify = tuple(
                n
                for n, r in entries.items()
                if isinstance(n, str) and checked.get(n, 0) < int(r)
            )
        else:
            rv_round = int(rv.get("round", 0))
            reverify = tuple(
                n
                for n in rv.get("names", ())
                if isinstance(n, str) and checked.get(n, 0) < rv_round
            )
    except (OSError, ValueError, TypeError):  # no/corrupt file -> no fronting
        pass
    return checked, retry, reverify


_DRIVER_CHECKED, _RETRY_FIRST, _REVERIFY = _driver_evidence()


def _ordered_names() -> list[str]:
    """Registry names tiered by driver evidence: (0) fixed driver-red
    retries, (1) queries NO driver round has ever checked — derived from
    the registry itself, so new queries land here automatically — plus
    queries EDITED since their last driver check (REVERIFY.json, kept in
    that file's priority order: semantic edits before decorator-only
    registration edits), and (2) driver-green queries whose code is
    unchanged since their check.  Stable registration order otherwise."""
    names = list(REGISTRY)
    rv_pos = {n: i for i, n in enumerate(_REVERIFY)}

    def key(n: str) -> tuple[int, int, int]:
        if n in _RETRY_FIRST:
            return (0, 0, names.index(n))
        if n not in _DRIVER_CHECKED:
            # brand-new queries front the edited tier
            return (1, -1, names.index(n))
        if n in rv_pos:
            return (1, 0, rv_pos[n])
        return (2, 0, names.index(n))

    return sorted(names, key=key)


def spark_queries() -> dict[str, SparkBuilder]:
    _load_all()
    return {name: REGISTRY[name].spark for name in _ordered_names()}


def oracle_map() -> dict[str, str]:
    _load_all()
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
