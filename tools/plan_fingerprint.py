"""Write the committed plan-shape fingerprints of the bench headline
queries: each PLANNED (pre-execution) physical plan reduced to
scale-relevant operator counts (``heparchy_spark.plans.fingerprint``).
``tests/test_plan_shapes.py`` recomputes them and diffs against the JSON,
so a degraded plan (BHJ -> SMJ, a new cartesian, an extra shuffle) fails
by query name.  Regenerate after an INTENTIONAL plan change, with the
diff reviewed:

    python tools/plan_fingerprint.py        # rewrites the fixture
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

FIXTURE = (
    Path(__file__).resolve().parent.parent
    / "tests"
    / "fixtures"
    / "plan_shapes.json"
)


def compute_all(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, dict]:
    from bench import HEADLINE
    from heparchy_spark.plans import RUNTIME_MATERIALIZED, fingerprint, plan_facts
    from heparchy_spark.queries import spark_queries
    from heparchy_spark.session import get_spark

    spark = get_spark("plan-fingerprint")
    qs = spark_queries()
    out = {}
    for name in HEADLINE:
        if name in RUNTIME_MATERIALIZED:
            continue
        out[name] = fingerprint(plan_facts(qs[name](spark, sf_dir)))
    spark.stop()
    return out


if __name__ == "__main__":
    shapes = compute_all()
    FIXTURE.write_text(json.dumps(shapes, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(shapes)} plan fingerprints to {FIXTURE}")
