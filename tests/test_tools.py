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


def _reverify_after_edit(monkeypatch, relpath: str, fn_name: str) -> list[str]:
    """``mark_reverify``'s selection for a one-line edit to the last body
    line of top-level function ``fn_name`` in ``relpath`` (a synthetic
    ``git diff -U0``; the tree itself is read as it is)."""
    import ast

    import mark_reverify

    tree = ast.parse((mark_reverify.ROOT / relpath).read_text())
    (line,) = [
        n.end_lineno
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == fn_name
    ]
    diff = f"+++ b/{relpath}\n@@ -{line} +{line} @@\n+    edited\n"
    monkeypatch.setattr(mark_reverify, "_git", lambda *args: diff)
    return mark_reverify.affected_queries(mark_reverify._module_changes("HEAD"))


def test_reverify_follows_module_imports_to_dependent_queries(monkeypatch):
    """``queries/text.py`` imports the operator that calls
    ``operators.dedup.normalize_text`` at module top, not inside the
    builder: an edit there must still front every query whose import
    closure reaches it."""
    names = _reverify_after_edit(
        monkeypatch, "heparchy_spark/operators/dedup.py", "normalize_text"
    )
    for q in (
        "text_fingerprints",
        "dedup_exact_normalized",
        "dedup_simhash_pairs",
        "dedup_ngram_jaccard_pairs",
    ):
        assert q in names, q
    assert "q1_pricing_summary" not in names


def test_reverify_builder_edit_selects_only_that_query(monkeypatch):
    """A body edit to one builder fronts that query alone, not the other
    queries registered in the same module."""
    names = _reverify_after_edit(
        monkeypatch, "heparchy_spark/queries/relational.py", "q1_pricing_summary"
    )
    assert names == ["q1_pricing_summary"]


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
