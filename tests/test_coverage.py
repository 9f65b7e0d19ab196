"""COVERAGE.md ↔ registry consistency: the judge-facing inventory map
must list exactly the registered queries with the right oracle marks."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

REPO = Path(__file__).resolve().parents[1]


def _parse_coverage():
    text = (REPO / "COVERAGE.md").read_text()
    rows = {}
    for name, mark in re.findall(r"\|\s*`(\w+)`\s*\|[^|]*\|?\s*(✅|⚠)", text):
        rows[name] = mark
    # table rows have the name in the 2nd column for the §2 table and the
    # 1st for extensions; regex above catches name + the oracle mark cell
    return rows


def test_every_registered_query_is_documented():
    documented = _parse_coverage()
    missing = sorted(set(REGISTRY) - set(documented))
    assert not missing, f"queries not in COVERAGE.md: {missing}"


def test_every_documented_query_is_registered():
    documented = _parse_coverage()
    stale = sorted(set(documented) - set(REGISTRY))
    assert not stale, f"COVERAGE.md lists unregistered queries: {stale}"


def test_oracle_marks_match_registry():
    documented = _parse_coverage()
    for name, mark in documented.items():
        has_oracle = REGISTRY[name].oracle is not None
        expected = "✅" if has_oracle else "⚠"
        assert mark == expected, (
            f"{name}: COVERAGE.md says {mark}, registry says {expected}"
        )


def test_driver_order_is_permutation_of_canonical():
    """DRIVER_ORDER rotates evidence-poor queries first for the driver's
    50-entry CORRECTNESS artifact; it must stay a permutation of the
    canonical inventory so rotation never drops coverage."""
    from python_etl_sample_spark.registry import DRIVER_ORDER, canonical_names

    assert sorted(DRIVER_ORDER) == sorted(canonical_names())
    assert len(set(DRIVER_ORDER)) == len(DRIVER_ORDER)


@pytest.mark.parametrize("case", ["dropped", "unregistered"])
def test_ordered_registry_keeps_coverage(case, monkeypatch):
    """``queries()`` order is DRIVER_ORDER then any registered name it
    lacks: a name dropped from DRIVER_ORDER is appended, never lost,
    and an unregistered DRIVER_ORDER name raises."""
    from python_etl_sample_spark import registry

    order = registry.DRIVER_ORDER
    if case == "dropped":
        monkeypatch.setattr(registry, "DRIVER_ORDER", order[1:])
        assert list(registry.ordered_registry()) == [*order[1:], order[0]]
    else:
        monkeypatch.setattr(registry, "DRIVER_ORDER", (*order, "no_such_query"))
        with pytest.raises(KeyError, match="no_such_query"):
            registry.ordered_registry()


def test_unknown_warm_tag_raises_at_registration():
    from python_etl_sample_spark.registry import query

    with pytest.raises(ValueError, match="memoo"):
        query("no_such_query", tags=("memoo",))
    assert "no_such_query" not in REGISTRY


def test_driver_order_front_loads_unrecorded_queries():
    """Every query with no row in any committed CORRECTNESS_r* artifact
    must sit within the first ``50 + len(never)`` driver-order slots —
    the race-proof form of "never-recorded queries are front-loaded".

    Why this bound and not ``never ⊆ DRIVER_ORDER[:50]``: the driver's
    artifact lands AFTER the round's final commit, recording exactly the
    first 50 names of the frozen order. When more than 50 queries were
    unrecorded at freeze (rounds 5 and 6 both hit this), the post-freeze
    artifact shrinks ``never`` to the block at positions 50..k — still a
    correctly front-loaded order, but outside ``[:50]``. The invariant
    ``never ⊆ DRIVER_ORDER[:50 + len(never)]`` is preserved by any
    sequence of driver artifacts each recording a prefix: regeneration
    puts ``never`` at positions [0, k); an artifact removes the first
    min(50, k) of them, leaving positions [50, k) ⊆ [:50 + (k - 50)].
    So no artifact landing can flip this test, while a genuinely
    mis-ordered DRIVER_ORDER (an unrecorded query buried behind >50
    recorded ones) still fails."""
    import glob
    import json

    from python_etl_sample_spark.registry import DRIVER_ORDER, canonical_names

    recorded: set[str] = set()
    for path in sorted(glob.glob(str(REPO / "CORRECTNESS_r[0-9]*.json"))):
        recorded |= set(json.load(open(path)))
    never = set(canonical_names()) - recorded
    window = set(DRIVER_ORDER[: 50 + len(never)])
    missing = never - window
    assert not missing, (
        f"never-recorded queries buried beyond slot {50 + len(never)}: "
        f"{sorted(missing)}"
    )


def test_totals_line():
    text = (REPO / "COVERAGE.md").read_text()
    n_total = len(REGISTRY)
    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    assert f"{n_total} queries — {n_oracle} oracle-checked" in text


def test_suite_walltime_line():
    """VERDICT r13 item 6: suite growth is tracked — COVERAGE.md must
    carry a measured per-round wall-time line for both tiers, so a
    round that grows the suite without re-measuring fails here (the
    round number is read from the newest driver CORRECTNESS artifact
    + 1, i.e. the round being built)."""
    import glob
    import os

    text = (REPO / "COVERAGE.md").read_text()
    m = re.search(
        r"Suite wall-time \(r(\d+)\): fast tier (\d+) s / (\d+) tests; "
        r"full suite (\d+) s\n?/ (\d+) tests",
        text,
    )
    assert m, "COVERAGE.md is missing the 'Suite wall-time (rN)' line"
    rounds = [
        int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        for p in glob.glob(str(REPO / "CORRECTNESS_r[0-9]*.json"))
    ]
    assert int(m.group(1)) == max(rounds) + 1, (
        f"suite wall-time line is for r{m.group(1)}, but the round "
        f"being built is r{max(rounds) + 1} — re-measure and update"
    )
    assert all(int(g) > 0 for g in m.groups()[1:]), (
        "wall-time placeholders must be filled with real measurements"
    )


def test_no_round_named_modules():
    """Modules are named for their domain (SURVEY.md §2), not for the
    round that added them, so finding a query never means grepping."""
    pkg = REPO / "python_etl_sample_spark"
    named = sorted(
        str(p.relative_to(REPO))
        for p in pkg.rglob("*.py")
        if re.match(r"round|scale_ops|tpch_extra6$", p.stem)
    )
    assert not named, f"round-named modules: {named}"


def test_no_module_binds_a_top_level_name_twice():
    """Merging modules must not rebind a name: ``_DIM`` is 128 in
    features.py but 64 for the semantic-dedup tier, and a merge that
    rebinds such a constant changes the value every earlier user sees —
    which query fingerprints cannot catch, as they hash names, not
    values."""
    import ast
    from collections import Counter

    twice = {}
    for p in sorted((REPO / "python_etl_sample_spark").rglob("*.py")):
        names: Counter = Counter()
        for stmt in ast.parse(p.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names[stmt.name] += 1
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                names.update((a.asname or a.name).split(".")[0] for a in stmt.names)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names.update(
                    n.id
                    for t in targets
                    for n in ast.walk(t)
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
                )
        dup = sorted(n for n, c in names.items() if c > 1)
        if dup:
            twice[str(p.relative_to(REPO))] = dup
    assert not twice, f"top-level names bound more than once: {twice}"
