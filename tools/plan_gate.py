"""Fast pre-commit plan gate: the scale-killer rules
(``heparchy_spark.plans.violations``) through the same ``offenders`` loop
as the corpus-wide test, on just the queries you touched, in seconds:

    python tools/plan_gate.py agg_theil_inequality orders_rfm_segments
    python tools/plan_gate.py --changed     # queries in modules touched
                                            # since HEAD, untracked too
    python tools/plan_gate.py --all         # the full corpus gate

Queries are planned at sf0.001 (the final frame is not executed).  Exit
code 0 = clean, 1 = offenders found.
"""

from __future__ import annotations

import ast
import functools
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.001"


def source_of(module: str) -> Path | None:
    base = ROOT / module.replace(".", "/")
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def packages_of(module: str) -> set[str]:
    # importing a.b.c runs a/__init__.py and a/b/__init__.py first
    return {module.rsplit(".", k)[0] for k in range(1, module.count(".") + 1)}


@functools.cache
def imports_of(module: str) -> frozenset[str]:
    """The package modules ``module`` imports, its own packages left
    out: the registry package's loader imports every query module."""
    path = source_of(module)
    if path is None:
        return frozenset()
    try:
        tree = ast.parse(path.read_text())
    except (OSError, SyntaxError):
        return frozenset()
    deps = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            # ``from pkg import name`` may name a submodule
            deps |= {node.module} | {
                f"{node.module}.{a.name}"
                for a in node.names
                if source_of(f"{node.module}.{a.name}")
            }
        elif isinstance(node, ast.Import):
            deps |= {a.name for a in node.names}
    return frozenset(
        d for d in deps if d.startswith("heparchy_spark")
    ) - packages_of(module)


def import_closure(module: str) -> set[str]:
    """``module``, every package module it imports, transitively (top
    level and inside functions alike), and the packages around those.

    The transitive hop matters: editing ``operators/psl.py`` changes the
    plans of ``queries/web.py``'s queries even though no query module
    stem matches the diff."""
    seen, stack = set(), [module]
    while stack:
        m = stack.pop()
        if m not in seen:
            seen.add(m)
            stack.extend(imports_of(m))
    return seen | set().union(*map(packages_of, seen))


def changed_query_names() -> list[str]:
    """Queries whose defining module — or any module in its
    :func:`import_closure` — was touched since HEAD (tracked diffs plus
    untracked files).  A change under ``heparchy_spark/plans/`` selects
    every query: that package holds the rules that judge every plan."""
    listed = []
    for cmd in (
        ["git", "diff", "--name-only", "HEAD"],
        ["git", "ls-files", "--others", "--exclude-standard"],
    ):
        listed += subprocess.run(
            cmd, capture_output=True, text=True, cwd=ROOT
        ).stdout.split()
    touched = {
        p.removesuffix(".py").removesuffix("/__init__").replace("/", ".")
        for p in listed
        if p.endswith(".py") and p.startswith("heparchy_spark/")
    }
    if not touched:
        return []
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    if any(m.startswith("heparchy_spark.plans") for m in touched):
        return list(REGISTRY)
    return [
        name
        for name, spec in REGISTRY.items()
        if import_closure(spec.spark.__module__) & touched
    ]


def main() -> int:
    from heparchy_spark.plans import offenders
    from heparchy_spark.queries import REGISTRY, _load_all
    from heparchy_spark.session import get_spark

    _load_all()
    args = sys.argv[1:]
    if "--all" in args:
        names = list(REGISTRY)
    elif "--changed" in args:
        names = changed_query_names()
        if not names:
            print("no registered queries in modules changed since HEAD")
            return 0
    else:
        names = [a for a in args if not a.startswith("-")]
    if not names:
        print(__doc__)
        return 1
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1

    spark = get_spark("plan-gate")
    found = offenders(spark, SF_DIR, names)
    spark.stop()
    if found:
        print(f"{len(found)} offender(s): {found}")
        return 1
    print(f"{len(names)} quer{'y' if len(names) == 1 else 'ies'} clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
