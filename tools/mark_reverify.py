"""Regenerate REVERIFY.json — the list of corpus queries whose
implementation changed since a given commit and should therefore be
re-fronted in the driver's 50-query correctness window.

The driver re-checks queries front-to-back of ``spark_queries()`` order;
``queries/__init__._driver_evidence`` tiers that order from the committed
``CORRECTNESS_r*.json`` evidence.  "Never checked" queries front
automatically, but a query EDITED after its last green check would
otherwise sit in the checked tier indefinitely.  This tool closes that
gap mechanically, at FUNCTION granularity:

* changed new-file lines come from ``git diff -U0 <since>`` (committed
  plus working-tree edits; default ``<since>`` = the latest end-of-round
  snapshot commit);
* per changed module, the changed TOP-LEVEL definitions are the AST
  spans (decorators included — an oracle edit is a reason to re-check)
  hit by those lines; lines outside every span mark the whole module
  (module-level helpers feed arbitrary registrations);
* a query is affected when its registering function changed, its
  registering module changed at module level, or any other module of
  its registering module's import closure (``plan_gate.import_closure``:
  every package module it imports, transitively, plus the packages
  around those) changed at all;
* the output ``REVERIFY.json`` records the current round number (latest
  CORRECTNESS round + 1) and the affected names.  ``_driver_evidence``
  fronts a listed name until a driver round >= that number has checked
  it, so the file self-expires without edits.

Run at any point in a round (idempotent); commit the file with the
round's changes::

    python tools/mark_reverify.py                  # since last snapshot
    python tools/mark_reverify.py --since <commit>
"""

from __future__ import annotations

import argparse
import ast
import json
import re
import subprocess
import sys
from pathlib import Path

from plan_gate import import_closure

ROOT = Path(__file__).resolve().parents[1]


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


def _latest_snapshot_commit() -> str:
    out = _git("log", "--grep=end-of-round snapshot", "-1", "--format=%H").strip()
    if not out:  # first round: diff against the root commit
        out = _git("rev-list", "--max-parents=0", "HEAD").strip()
    return out


def _changed_lines_by_file(since: str) -> dict[str, dict[int, str | None]]:
    """Changed NEW-file lines per heparchy_spark module file, committed
    + working tree (``git diff <since>`` covers both).  Maps new-file
    line number -> added line text (None for a pure-deletion boundary,
    which has no new text)."""
    diff = _git("diff", "-U0", since, "--", "heparchy_spark/")
    out: dict[str, dict[int, str | None]] = {}
    cur: dict[int, str | None] | None = None
    nxt = 0
    for line in diff.splitlines():
        if line.startswith("+++ b/"):
            path = line[len("+++ b/") :]
            cur = out.setdefault(path, {}) if path.endswith(".py") else None
            nxt = 0
        elif line.startswith("@@") and cur is not None:
            m = re.search(r"\+(\d+)(?:,(\d+))?", line)
            if m:
                start = max(int(m.group(1)), 1)
                count = int(m.group(2)) if m.group(2) is not None else 1
                if count == 0:
                    # pure deletion: mark the boundary line, no text
                    cur.setdefault(start, None)
                    nxt = 0
                else:
                    nxt = start  # the following '+' lines fill start..
        elif cur is not None and nxt and line.startswith("+"):
            cur[nxt] = line[1:]
            nxt += 1
    return out


def _top_spans(path: Path) -> list[tuple[str, int, int]] | None:
    """(name, first_line_incl_decorators, end_line) of every top-level
    def/class; None when the file can't be parsed."""
    try:
        tree = ast.parse(path.read_text())
    except (OSError, SyntaxError):
        return None
    spans = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            # body_start separates decorator edits (oracle/registration
            # metadata) from body edits (the Spark implementation)
            spans.append(
                (node.name, start, node.end_lineno or node.lineno, node.lineno)
            )
    return spans


# decorator lines that are pure plan-shape flag migrations — the one
# registration edit that does NOT warrant a driver re-check
_FLAG_ONLY = {"expects_bnlj=True,", "expects_row_udf=True,"}
# expects_broadcast carries a free-text reason, so match it by shape
_FLAG_RE = re.compile(r"^expects_broadcast=(\"[^\"]*\"|'[^']*'),$")


def _is_flag_line(txt: str) -> bool:
    s = txt.strip()
    return s in _FLAG_ONLY or bool(_FLAG_RE.match(s))


def _module_changes(since: str) -> dict[str, tuple[set[str], bool, set[str]]]:
    """Per dotted module: (changed top-level names incl. decorator-only,
    module_level_changed, names with a SUBSTANTIVE change — body lines,
    or decorator lines beyond the pure expects_* flag migration; a
    decorator carries the oracle SQL, so oracle edits land here).
    The registry plumbing module (queries/__init__) is excluded: its
    ordering/flag machinery does not alter query semantics, and every
    registration references it."""
    out: dict[str, tuple[set[str], bool, set[str]]] = {}
    for relpath, lines in _changed_lines_by_file(since).items():
        if not lines:
            continue
        mod = relpath.removesuffix(".py").removesuffix("/__init__")
        mod = mod.replace("/", ".")
        if mod == "heparchy_spark.queries":
            continue
        spans = _top_spans(ROOT / relpath)
        if spans is None:  # deleted/unparseable file: whole module changed
            out[mod] = (set(), True, set())
            continue
        names = {
            name
            for name, a, b, _bs in spans
            if any(a <= ln <= b for ln in lines)
        }
        substantive = {
            name
            for name, a, b, bs in spans
            if any(bs <= ln <= b for ln in lines)
            or any(
                a <= ln < bs
                and (txt is None or not _is_flag_line(txt))
                for ln, txt in lines.items()
            )
        }
        covered = set()
        for _, a, b, _bs in spans:
            covered.update(range(a, b + 1))
        module_level = bool(set(lines) - covered)
        out[mod] = (names, module_level, substantive)
    return out


def _current_round() -> int:
    rounds = [
        int(m.group(1))
        for p in ROOT.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"r(\d+)", p.name))
    ]
    return (max(rounds) if rounds else 0) + 1


def affected_queries(
    changes: dict[str, tuple[set[str], bool, set[str]]]
) -> list[str]:
    """Affected query names in priority order — the driver samples the
    FRONT of the window: (1) queries whose own builder body changed
    (direct edits), (2) queries affected through a module-level change
    or a changed cross-module dependency, (3) decorator-only
    registration edits.  Within each tier, OLDEST driver evidence first
    (the round-9 verdict's drain order): a query last checked in r2
    fronts one checked in r8, so the staleness ceiling falls uniformly
    instead of alphabetically."""
    sys.path.insert(0, str(ROOT))
    from heparchy_spark.queries import REGISTRY, _driver_evidence, _load_all

    _load_all()
    checked, _retry, _rv = _driver_evidence()

    def by_staleness(names: list[str]) -> list[str]:
        return sorted(names, key=lambda n: (checked.get(n, 0), n))

    direct, dependent, decorator_only = [], [], []
    for qname, spec in REGISTRY.items():
        reg_module = spec.spark.__module__
        reg = changes.get(reg_module)
        fname = spec.spark.__name__
        if reg is not None and fname in reg[2]:
            direct.append(qname)
        elif (reg is not None and reg[1]) or (
            (import_closure(reg_module) - {reg_module}) & changes.keys()
        ):
            dependent.append(qname)
        elif reg is not None and fname in reg[0]:
            decorator_only.append(qname)
    return (
        by_staleness(direct)
        + by_staleness(dependent)
        + by_staleness(decorator_only)
    )


def _carryover_entries() -> dict[str, int]:
    """Unexpired entries from the existing REVERIFY.json — names whose
    recorded round is still ahead of their latest driver check.  Merged
    BEHIND the new round's names so a regenerate never silently drops an
    earlier round's backlog (the round-6 verdict's burn-down task)."""
    sys.path.insert(0, str(ROOT))
    from heparchy_spark.queries import _driver_evidence

    checked, _retry, _rv = _driver_evidence()
    try:
        old = json.loads((ROOT / "REVERIFY.json").read_text())
    except (OSError, ValueError):
        return {}
    entries = old.get("entries")
    if not isinstance(entries, dict):  # v1 file: one shared round number
        rnd = int(old.get("round", 0))
        entries = {n: rnd for n in old.get("names", ()) if isinstance(n, str)}
    return {
        n: int(r)
        for n, r in entries.items()
        if isinstance(n, str) and checked.get(n, 0) < int(r)
    }


def _oracle_fixture_changed(since: str) -> list[str]:
    """Query names whose committed expected-value fixture
    (``tests/fixtures/expected_sf0_01/<name>.parquet``) changed since
    ``since`` — an oracle-VALUE change is the strongest possible reason
    for a driver re-check, so these front the whole window regardless
    of driver-evidence staleness.  The boundary is the LAST DRIVER RUN
    (the commit that added the newest ``CORRECTNESS_r*.json``), not the
    round snapshot: a fixture regenerated before the driver ran was
    already checked against its new values."""
    newest = max(
        ROOT.glob("CORRECTNESS_r*.json"),
        key=lambda p: p.name,
        default=None,
    )
    if newest is not None:
        last_check = _git(
            "log", "-1", "--format=%H", "--", newest.name
        ).strip()
        if last_check:
            since = last_check
    diff = _git(
        "diff", "--name-only", since, "--",
        "tests/fixtures/expected_sf0_01/",
    )
    names = []
    for line in diff.splitlines():
        p = Path(line)
        if p.suffix == ".parquet":
            names.append(p.stem)
    return sorted(names)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--since", default=None, help="commit to diff against")
    args = ap.parse_args()
    since = args.since or _latest_snapshot_commit()
    changes = _module_changes(since)
    names = affected_queries(changes)
    oracle_changed = [n for n in _oracle_fixture_changed(since) if n in names]
    names = oracle_changed + [n for n in names if n not in oracle_changed]
    rnd = _current_round()
    entries = {n: rnd for n in names}
    n_carry = 0
    for n, r in _carryover_entries().items():
        if n not in entries:
            entries[n] = r
            n_carry += 1
    out = {
        "round": rnd,
        "since": since,
        "changed_modules": sorted(changes),
        "names": names,
        "entries": entries,
    }
    (ROOT / "REVERIFY.json").write_text(json.dumps(out, indent=1) + "\n")
    print(f"carryover: {n_carry} unexpired names from the previous file")
    print(
        f"REVERIFY.json: round {out['round']},"
        f" {len(changes)} changed modules"
        f" -> {len(names)} queries fronted"
    )


if __name__ == "__main__":
    main()
