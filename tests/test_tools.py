"""Dev-tool invariants (no Spark session needed).

merge_floor_ledger's carry-forward rule (r12 ADVICE): merging a
PARTIAL bench run must not erase the recorded floors of un-run
queries. Pinned here against a synthetic ledger + run pair so the
rule can't regress silently.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_merge_module():
    spec = importlib.util.spec_from_file_location(
        "merge_floor_ledger",
        os.path.join(REPO, "tools", "merge_floor_ledger.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_main(mod, argv, monkeypatch, ledger_path):
    monkeypatch.setattr(mod, "LEDGER", str(ledger_path))
    monkeypatch.setattr(sys, "argv", ["merge_floor_ledger.py", *argv])
    return mod.main()


def test_partial_run_carries_prior_floors_forward(tmp_path, monkeypatch):
    mod = _load_merge_module()
    # carried names must exist in the registry (r13 ADVICE); stub the
    # lookup so the synthetic fixture stays pyspark-free
    monkeypatch.setattr(mod, "_registry_names", lambda: {"q_a", "q_b", "q_c"})
    ledger = tmp_path / "ledger.json"
    ledger.write_text(json.dumps(
        {"queries": {"q_a": 1.0, "q_b": 2.0, "q_c": 3.0}}
    ))
    run = tmp_path / "run.json"
    run.write_text(json.dumps({"queries": {"q_a": 0.5}}))

    _run_main(mod, [str(run), "--round", "99", "--write"],
              monkeypatch, ledger)
    out = json.loads(ledger.read_text())
    # q_a took the better min; q_b/q_c carried forward, not dropped
    assert out["queries"] == {"q_a": 0.5, "q_b": 2.0, "q_c": 3.0}
    assert out["carried_forward"] == ["q_b", "q_c"]
    assert out["n_queries"] == 3


def test_allow_drop_retires_absent_queries(tmp_path, monkeypatch):
    mod = _load_merge_module()
    ledger = tmp_path / "ledger.json"
    ledger.write_text(json.dumps({"queries": {"q_a": 1.0, "q_gone": 2.0}}))
    run = tmp_path / "run.json"
    run.write_text(json.dumps({"queries": {"q_a": 1.5}}))

    _run_main(mod, [str(run), "--round", "99", "--write", "--allow-drop"],
              monkeypatch, ledger)
    out = json.loads(ledger.read_text())
    assert out["queries"] == {"q_a": 1.0}  # min(prior, run); q_gone retired
    assert out["carried_forward"] == []


def test_carry_forward_of_deleted_query_fails_loudly(tmp_path, monkeypatch):
    # r13 ADVICE: a carried-forward name that no longer exists in the
    # registry is a deleted query — the merge must refuse rather than
    # inflate the ledger total forever.
    import pytest

    mod = _load_merge_module()
    monkeypatch.setattr(mod, "_registry_names", lambda: {"q_a"})
    ledger = tmp_path / "ledger.json"
    ledger.write_text(json.dumps({"queries": {"q_a": 1.0, "q_ghost": 2.0}}))
    run = tmp_path / "run.json"
    run.write_text(json.dumps({"queries": {"q_a": 0.5}}))

    with pytest.raises(SystemExit, match="q_ghost"):
        _run_main(mod, [str(run), "--round", "99", "--write"],
                  monkeypatch, ledger)
    # --allow-drop is the explicit retirement path and still works
    _run_main(mod, [str(run), "--round", "99", "--write", "--allow-drop"],
              monkeypatch, ledger)
    out = json.loads(ledger.read_text())
    assert out["queries"] == {"q_a": 0.5}


def test_fresh_floor_ignores_prior(tmp_path, monkeypatch):
    mod = _load_merge_module()
    ledger = tmp_path / "ledger.json"
    ledger.write_text(json.dumps({"queries": {"q_a": 0.1}}))
    run = tmp_path / "run.json"
    run.write_text(json.dumps({"queries": {"q_a": 0.9}}))

    _run_main(mod, [str(run), "--round", "99", "--write", "--fresh", "q_a"],
              monkeypatch, ledger)
    out = json.loads(ledger.read_text())
    assert out["queries"] == {"q_a": 0.9}  # changed code: prior floor retired


def _load_gen_module():
    spec = importlib.util.spec_from_file_location(
        "gen_driver_order",
        os.path.join(REPO, "tools", "gen_driver_order.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_fingerprint_snapshot_since_carry(tmp_path, monkeypatch):
    """r14 query-granular change detection: write_fingerprints must
    carry ``since`` forward for an unchanged fingerprint and bump it to
    the round being frozen for a drifted one — that is what keeps a
    changed query in the rotation until its post-change driver row
    lands."""
    mod = _load_gen_module()
    from python_etl_sample_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    names = sorted(REGISTRY)[:2]
    kept, drifted = names[0], names[1]
    snap = tmp_path / "fp.json"
    snap.write_text(json.dumps({
        kept: {"fp": mod.query_fingerprint(REGISTRY[kept]), "since": 3},
        drifted: {"fp": "0" * 40, "since": 5},
    }))
    monkeypatch.setattr(mod, "FINGERPRINTS", str(snap))

    n = mod.write_fingerprints()
    out = json.loads(snap.read_text())
    assert n == len(REGISTRY) == len(out)
    assert out[kept]["since"] == 3, "unchanged fp must keep its since"
    frozen = out[drifted]["since"]
    assert frozen > 5, "drifted fp must bump since to the frozen round"
    # every name absent from the old snapshot is new -> frozen round
    other = next(k for k in out if k not in (kept, drifted))
    assert out[other]["since"] == frozen


def test_fingerprint_ignores_decorators_docstrings_and_position(tmp_path):
    """Query fingerprints hash the function's AST without its
    decorators and docstring: registration metadata (``tags=``),
    docstrings, comments and line numbers never flag a query; a body
    or oracle edit does."""
    mod = _load_gen_module()
    deco = "def query(*a, **k):\n    return lambda fn: fn\n\n\n"
    variants = {
        "base": '@query("q")\ndef q(spark, sf_dir):\n    """one"""\n'
        "    return spark.range(1)\n",
        "meta": '\n\n# moved\n@query("q", tags=("memo",))\n'
        'def q(spark, sf_dir):\n    """two"""\n'
        "    return spark.range(1)  # comment\n",
        "edit": '@query("q")\ndef q(spark, sf_dir):\n    """one"""\n'
        "    return spark.range(2)\n",
    }
    fps = {}
    for key, src in variants.items():
        path = tmp_path / f"fp_{key}.py"
        path.write_text(deco + src)
        spec = importlib.util.spec_from_file_location(f"fp_{key}", path)
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        for oracle in ("SELECT 1", "SELECT 2"):
            fps[key, oracle] = mod.query_fingerprint(
                type("Spec", (), {"fn": m.q, "oracle": oracle})
            )
    assert fps["base", "SELECT 1"] == fps["meta", "SELECT 1"]
    assert fps["base", "SELECT 1"] != fps["edit", "SELECT 1"]
    assert fps["base", "SELECT 1"] != fps["base", "SELECT 2"]


def test_driver_order_file_round_trips(tmp_path, monkeypatch):
    """``gen_driver_order.py --write`` writes the committed data file
    format exactly: re-writing the committed order with its bucket
    labels reproduces driver_order.txt byte for byte, and
    ``registry.DRIVER_ORDER`` is its name lines in order."""
    from python_etl_sample_spark.registry import DRIVER_ORDER

    mod = _load_gen_module()
    committed = open(mod.DRIVER_ORDER_FILE).read()
    order, label = [], None
    for line in committed.splitlines():
        if line.startswith("# --- "):
            label = line[len("# --- "):-len(" ---")]
        elif line and not line.startswith("#"):
            order.append((line, label))
    assert tuple(n for n, _ in order) == DRIVER_ORDER
    out = tmp_path / "driver_order.txt"
    monkeypatch.setattr(mod, "DRIVER_ORDER_FILE", str(out))
    mod.write_driver_order(order)
    assert out.read_text() == committed


def test_fingerprint_ignores_function_local_operator_imports(tmp_path):
    """Moving a helper between operator modules rewrites or drops a
    function-local ``from python_etl_sample_spark.operators.<m> import``
    line. That is layout, not behaviour, so it must not flag the query;
    any other function-local import still does."""
    mod = _load_gen_module()
    body = "    return h(spark)\n"
    variants = {
        "old_home": "    from python_etl_sample_spark.operators.round6b_ops import h\n",
        "new_home": "    from python_etl_sample_spark.operators.sketches import h\n",
        "same_module": "",
        "other_pkg": "    from python_etl_sample_spark.functions.xengine import h\n",
    }
    fps = {}
    for key, imp in variants.items():
        path = tmp_path / f"fp_imp_{key}.py"
        path.write_text(f"def q(spark, sf_dir):\n{imp}{body}")
        spec = importlib.util.spec_from_file_location(f"fp_imp_{key}", path)
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        fps[key] = mod.query_fingerprint(type("Spec", (), {"fn": m.q, "oracle": None}))
    assert fps["old_home"] == fps["new_home"] == fps["same_module"]
    assert fps["other_pkg"] != fps["same_module"]
