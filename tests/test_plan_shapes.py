"""Plan-shape regression gate: every bench headline query's physical
plan must match its committed operator-count fingerprint
(``tests/fixtures/plan_shapes.json``).

A broadcast join silently degrading to sort-merge, a new cartesian
product, an extra shuffle, or a Python row-UDF sneaking into a hot path
all change the fingerprint and fail HERE, by name — instead of
surfacing as an unexplained bench regression later.  After an
INTENTIONAL plan change, regenerate with
``python tools/plan_fingerprint.py`` and review the diff like code.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from heparchy_spark.plans import RUNTIME_MATERIALIZED, fingerprint, plan_facts
from tools.plan_fingerprint import FIXTURE

SF_DIR = "/root/testdata/sf0.01"  # fingerprints are generated at sf0.01:
# broadcast decisions read size stats, so the scale is part of the pin


@pytest.fixture(scope="module")
def committed() -> dict:
    return json.loads(Path(FIXTURE).read_text())


def test_fixture_covers_headline(committed):
    from bench import HEADLINE

    assert set(committed) == set(HEADLINE) - RUNTIME_MATERIALIZED, (
        "fingerprint fixture out of date with bench.HEADLINE — regenerate: "
        "python tools/plan_fingerprint.py"
    )


def test_headline_plan_shapes_unchanged(spark, committed):
    from heparchy_spark.queries import spark_queries

    qs = spark_queries()
    drift = {}
    for name, want in committed.items():
        got = fingerprint(plan_facts(qs[name](spark, SF_DIR)))
        if got != want:
            drift[name] = {
                k: (want[k], got[k]) for k in want if want[k] != got.get(k)
            }
    assert not drift, (
        f"plan shapes drifted (want, got): {drift} — if intentional, "
        "regenerate via python tools/plan_fingerprint.py and review"
    )
