"""Plan audit: run every corpus query and print its plan facts
(``heparchy_spark.plans.plan_facts``): shuffle-exchange count, broadcast
usage, scans, codegen spans, and broadcasts built over a Python map node
(the list of sites to AUDIT when join inputs change).  Exit code 1 when
any query raised.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    from heparchy_spark.plans import plan_facts
    from heparchy_spark.queries import spark_queries
    from heparchy_spark.session import get_spark

    spark = get_spark("plan-audit")
    qs = spark_queries()
    names = args[1:] or sorted(qs)
    print(
        f"{'query':42s} {'shuffles':>8s} {'bcast':>6s} {'scans':>6s} "
        f"{'codegen':>8s} {'pymap-bcast':>11s}"
    )
    failed = 0
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            f = plan_facts(df)
            print(
                f"{name:42s} {f.shuffle_count:8d} "
                f"{str(f.broadcast_join):>6s} "
                f"{f.scan_count:6d} "
                f"{f.codegen_spans:8d} "
                f"{f.pymap_broadcasts:11d}"
            )
        except Exception as exc:  # noqa: BLE001
            failed += 1
            print(f"{name:42s} ERROR: {exc}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
