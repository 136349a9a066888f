"""Pin the pre-commit tooling's selection logic (no Spark needed).

``tools/plan_gate.py --changed`` is the per-commit gate; rounds 5 and 7
shipped red trees when per-commit checks were skipped, and the round-8
advice found a silent hole in its file->query mapping: editing an
operator module whose stem matches no query module (operators/psl.py,
operators/similarity.py, ...) re-gated nothing.  These tests pin the
transitive mapping without invoking Spark or real git state.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))


def _changed_with_diff(
    monkeypatch, paths: list[str], untracked: list[str] = ()
) -> set[str]:
    import plan_gate

    real_run = subprocess.run

    def fake_run(cmd, **kw):
        for prefix, listed in (
            (["git", "diff", "--name-only"], paths),
            (["git", "ls-files", "--others"], untracked),
        ):
            if cmd[: len(prefix)] == prefix:
                class R:
                    stdout = "\n".join(listed)

                return R()
        return real_run(cmd, **kw)

    monkeypatch.setattr(plan_gate.subprocess, "run", fake_run)
    return set(plan_gate.changed_query_names())


def test_changed_maps_operator_module_to_importing_queries(monkeypatch):
    """Editing an operator module must re-gate every query whose
    defining module imports it: operators/web.py feeds the web family's
    plans even though no query-module stem matches the diff path (the
    round-8 advice's silent hole)."""
    names = _changed_with_diff(
        monkeypatch, ["heparchy_spark/operators/web.py"]
    )
    assert "web_url_dedup_canonical" in names
    assert "web_host_quality_rollup" in names
    # unrelated families are NOT dragged in
    assert "q1_pricing_summary" not in names


def test_changed_maps_query_module_to_its_queries(monkeypatch):
    names = _changed_with_diff(
        monkeypatch, ["heparchy_spark/queries/tpch.py"]
    )
    assert "q2_min_cost_supplier" in names and "q21_waiting_suppliers" in names
    assert "text_bm25_topk" not in names


def test_changed_ignores_non_package_files(monkeypatch):
    names = _changed_with_diff(
        monkeypatch, ["tools/plan_gate.py", "README.md", "tests/test_plans.py"]
    )
    assert names == set()


def test_changed_follows_package_imports(monkeypatch):
    """``from heparchy_spark.streaming import purchase_view_join`` goes
    through the package's ``__init__.py`` to ``streaming/analytics.py``:
    editing either re-gates the query that calls it."""
    for path in (
        "heparchy_spark/streaming/analytics.py",
        "heparchy_spark/streaming/__init__.py",
    ):
        names = _changed_with_diff(monkeypatch, [path])
        assert "events_stream_join_view_purchase" in names, path
        assert "q1_pricing_summary" not in names, path


def test_changed_maps_package_init_to_the_package(monkeypatch):
    """``functions/__init__.py`` is the package ``heparchy_spark.functions``,
    which Python runs before any ``heparchy_spark.functions.literals``
    import."""
    names = _changed_with_diff(
        monkeypatch, ["heparchy_spark/functions/__init__.py"]
    )
    assert "orders_rfm_segments" in names  # relational imports literals
    assert "q2_min_cost_supplier" not in names


def test_changed_resolves_from_package_import_of_a_submodule(monkeypatch):
    """``from heparchy_spark.sources import store`` (sources/reader.py)
    imports the submodule ``sources/store.py``, not only the package."""
    from heparchy_spark.queries import REGISTRY, QuerySpec, _load_all

    _load_all()

    def probe(spark, sf_dir):
        raise AssertionError("selection only")

    probe.__module__ = "heparchy_spark.sources.reader"
    monkeypatch.setitem(
        REGISTRY, "probe_reader", QuerySpec("probe_reader", probe, None)
    )
    names = _changed_with_diff(
        monkeypatch, ["heparchy_spark/sources/store.py"]
    )
    assert names == {"probe_reader"}


def test_changed_includes_untracked_files(monkeypatch):
    """A new module is invisible to ``git diff HEAD``; the untracked list
    feeds the same mapping."""
    names = _changed_with_diff(
        monkeypatch, [], untracked=["heparchy_spark/queries/tpch.py"]
    )
    assert "q2_min_cost_supplier" in names
    assert "text_bm25_topk" not in names


def test_changed_plan_rule_modules_select_every_query(monkeypatch):
    """The plan rules judge every plan, so any change under
    ``heparchy_spark/plans/`` re-gates the whole registry."""
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    for path in (
        "heparchy_spark/plans/inspect.py",
        "heparchy_spark/plans/__init__.py",
    ):
        names = _changed_with_diff(monkeypatch, [path])
        assert names == set(REGISTRY), path
    names = _changed_with_diff(
        monkeypatch, [], untracked=["heparchy_spark/plans/new_rule.py"]
    )
    assert names == set(REGISTRY)


def test_registry_broadcast_declarations_are_nonempty_strings():
    """Every expects_broadcast declaration must carry a real reason —
    an empty string would satisfy the gate while documenting nothing."""
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    bad = [
        n
        for n, s in REGISTRY.items()
        if s.expects_broadcast is not None
        and not s.expects_broadcast.strip()
    ]
    assert not bad, bad
