"""The plan rules of ``heparchy_spark.plans``, offender by offender.

The corpus is clean, so the corpus-wide gate never shows that a rule
fires.  Here every offender kind is driven both ways from short plan text
through the fact extractor (no Spark): present and undeclared, present and
declared, absent and declared (stale), absent and undeclared.  Real-plan
positive controls on ``spark.range`` then show the markers still match
Spark's plan text.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from heparchy_spark.plans import (
    facts_from_plan,
    fingerprint,
    plan_facts,
    violations,
)
from heparchy_spark.queries import QuerySpec

GLOBAL_WINDOW = (
    "Window [row_number() windowspecdefinition(id#0L ASC NULLS FIRST, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
    "AS r#1], [id#0L ASC NULLS FIRST]"
)
PARTITIONED_WINDOW = (
    "Window [row_number() windowspecdefinition(_w0#13L, id#10L ASC NULLS "
    "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
    "currentrow$())) AS r#11], [_w0#13L], [id#10L ASC NULLS FIRST]"
)

# offender kind, executed text, analyzed text, the declaration allowing it,
# the stale kind when the declaration outlives the shape (None: no rule)
RULES = [
    ("cartesian", "+- CartesianProduct", "", None, None),
    (
        "unexpected-BNLJ",
        "+- BroadcastNestedLoopJoin BuildRight, Inner",
        "",
        {"expects_bnlj": True},
        None,
    ),
    (
        "row-python-udf",
        "+- BatchEvalPython [f(id#0L)#3]",
        "",
        {"expects_row_udf": True},
        None,
    ),
    (
        "undeclared-broadcast-hint",
        "",
        "+- ResolvedHint (strategy=broadcast)",
        {"expects_broadcast": "bounded dim"},
        "stale-broadcast-declaration",
    ),
    (
        "undeclared-global-window",
        GLOBAL_WINDOW,
        "",
        {"expects_global_window": "bounded frame"},
        "stale-global-window-declaration",
    ),
]
IDS = [r[0] for r in RULES]
DECLARABLE = [r for r in RULES if r[3] is not None]
PARAMS = "kind,executed,analyzed,declared,stale"


def spec(**declared) -> QuerySpec:
    return QuerySpec("q", spark=None, oracle=None, **declared)


def kinds(executed: str = "", analyzed: str = "", **declared) -> list[str]:
    return violations(spec(**declared), facts_from_plan(executed, analyzed))


@pytest.mark.parametrize(PARAMS, RULES, ids=IDS)
def test_present_and_undeclared_is_an_offender(
    kind, executed, analyzed, declared, stale
):
    assert kinds(executed, analyzed) == [kind]


@pytest.mark.parametrize(PARAMS, DECLARABLE, ids=[r[0] for r in DECLARABLE])
def test_present_and_declared_is_clean(
    kind, executed, analyzed, declared, stale
):
    assert kinds(executed, analyzed, **declared) == []


@pytest.mark.parametrize(PARAMS, DECLARABLE, ids=[r[0] for r in DECLARABLE])
def test_absent_and_declared_is_stale(
    kind, executed, analyzed, declared, stale
):
    # BNLJ and row-UDF declarations have no stale rule
    assert kinds("", "", **declared) == ([stale] if stale else [])


def test_cartesian_takes_no_declaration():
    every = {k: v for r in DECLARABLE for k, v in r[3].items()}
    assert "cartesian" in kinds("+- CartesianProduct", "", **every)


def test_absent_and_undeclared_is_clean():
    assert kinds(PARTITIONED_WINDOW, "+- ResolvedHint (strategy=merge)") == []


@pytest.mark.parametrize("strategy", ["merge", "shuffle_hash"])
def test_demotion_hints_need_no_declaration(strategy):
    analyzed = f"+- ResolvedHint (strategy={strategy})"
    assert kinds("", analyzed) == []
    assert kinds("", analyzed, expects_broadcast="bounded") == [
        "stale-broadcast-declaration"
    ]


def test_shuffle_replicate_nl_hint_escalates():
    analyzed = "+- ResolvedHint (strategy=shuffle_replicate_nl)"
    assert kinds("", analyzed) == ["undeclared-broadcast-hint"]


def test_every_kind_reported_together():
    executed = "\n".join(r[1] for r in RULES)
    analyzed = "\n".join(r[2] for r in RULES)
    assert kinds(executed, analyzed) == IDS


def test_fact_counts_keep_their_meanings():
    """``shuffle_count`` reads the final plan only; the fingerprint's
    ``shuffle`` counts every substring, the initial plan included.  A
    ReusedExchange line prints the exchange it reuses, so both count it
    (Spark 4.1 text)."""
    executed = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=true",
            "+- == Final Plan ==",
            "   *(5) SortMergeJoin [k#1L], [k#7L], Inner",
            "   :- ShuffleQueryStage 0",
            "   :  +- Exchange hashpartitioning(g#9L, 32), ENSURE_REQUIREMENTS",
            "   :     +- *(1) Scan parquet t[k#1]",
            "   +- ShuffleQueryStage 2",
            "      +- ReusedExchange [g#10L], Exchange hashpartitioning(g#9L, 32)",
            "+- == Initial Plan ==",
            "   SortMergeJoin [k#1L], [k#7L], Inner",
            "   :- Exchange hashpartitioning(g#9L, 32), ENSURE_REQUIREMENTS",
            "   :  +- Scan parquet t[k#1]",
            "   +- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight",
            "      +- BroadcastExchange HashedRelationBroadcastMode",
            "         +- MapInArrow f(k#2)",
        ]
    )
    f = facts_from_plan(executed, "")
    assert f.shuffle_count == 2
    assert fingerprint(f)["shuffle"] == 3
    assert fingerprint(f)["sort_merge_join"] == 2
    assert f.scan_count == 2
    assert f.codegen_spans == 2
    assert f.pymap_broadcasts == 1
    assert f.broadcast_join
    # a Python map node beside, not under, the broadcast does not count
    sibling = "\n".join(
        [
            "+- BroadcastHashJoin",
            "   :- BroadcastExchange HashedRelationBroadcastMode",
            "   :  +- Scan parquet t[k#2]",
            "   +- MapInPandas f(k#1)",
        ]
    )
    assert facts_from_plan(sibling, "").pymap_broadcasts == 0


def test_python_map_marker_counts_vectorized_nodes_only():
    """``python_map`` counts each vectorized Python map node; the row UDF
    stays ``python_worker`` alone."""
    executed = "\n".join(
        [
            "+- MapInArrow f(k#1)",
            "   +- MapInPandas g(k#1)",
            "      +- FlatMapGroupsInPandas [k#1], h(k#1)",
            "         +- ArrowEvalPython [u(k#1)#2]",
            "            +- BatchEvalPython [v(k#1)#3]",
        ]
    )
    got = fingerprint(facts_from_plan(executed, ""))
    assert (got["python_map"], got["python_worker"]) == (4, 1)


def real_kinds(df) -> list[str]:
    return violations(spec(), plan_facts(df))


def test_real_global_window_is_an_offender(spark):
    df = spark.range(10).withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    assert real_kinds(df) == ["undeclared-global-window"]
    partitioned = spark.range(10).withColumn(
        "r", F.row_number().over(Window.partitionBy(F.col("id") % 2).orderBy("id"))
    )
    assert real_kinds(partitioned) == []


def test_real_broadcast_hint_is_an_offender(spark):
    df = spark.range(10).join(F.broadcast(spark.range(5)), "id")
    assert real_kinds(df) == ["undeclared-broadcast-hint"]
    merged = spark.range(10).join(spark.range(5).hint("merge"), "id")
    assert real_kinds(merged) == []


def test_real_python_map_is_counted(spark):
    def ident(batches):
        yield from batches

    df = spark.range(10).mapInArrow(ident, "id long")
    got = fingerprint(plan_facts(df))
    assert (got["python_map"], got["python_worker"]) == (1, 0)
    assert fingerprint(plan_facts(spark.range(10)))["python_map"] == 0


def test_real_cross_join_is_an_offender(spark):
    # a small side broadcasts into a nested-loop join; two sides above
    # the broadcast threshold (planned, never run) make a cartesian product
    small = spark.range(3).crossJoin(spark.range(4))
    assert real_kinds(small) == ["unexpected-BNLJ"]
    big = spark.range(10**7).crossJoin(spark.range(10**7))
    assert real_kinds(big) == ["cartesian"]
