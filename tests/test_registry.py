"""The query registry: every class declared once, with exactly one
verification mode, a full driver window, and the README inventory
generated from the declarations. Spark-free."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from datasketches_rust_spark.queries import ORACLE_SQL, QUERIES, _registry

ROOT = Path(__file__).resolve().parents[1]


def _tool(name):
    spec = importlib.util.spec_from_file_location(
        name, ROOT / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_class_has_exactly_one_mode():
    declared = {q.name: q for q in _registry.DECLARED}
    assert set(QUERIES) == set(declared)
    assert len(QUERIES) == len(_registry.DECLARED)
    for name, q in declared.items():
        assert (q.oracle is None) != (q.gate is None), name
        assert (name in ORACLE_SQL) == (q.oracle is not None), name
        assert QUERIES[name].__wrapped__ is q.fn
        assert q.fn.__name__ == f"q_{name}"


def test_gate_files_exist_and_name_their_class():
    gated = [q for q in _registry.DECLARED if q.gate is not None]
    assert gated
    for q in gated:
        path = ROOT / q.gate
        assert path.is_file(), (q.name, q.gate)
        assert q.name in path.read_text(), (q.name, q.gate)


def test_driver_window_is_fifty_oracled_classes_in_slot_order():
    window = sorted((q for q in _registry.DECLARED if q.window is not None),
                    key=lambda q: q.window)
    assert [q.window for q in window] == list(range(1, 51))
    assert list(QUERIES)[:50] == [q.name for q in window]
    assert all(n in ORACLE_SQL for n in list(QUERIES)[:50])


def test_rest_follows_family_then_declaration_order():
    rest = list(QUERIES)[50:]
    fam = {q.name: _registry.FAMILIES.index(q.family)
           for q in _registry.DECLARED}
    assert [fam[n] for n in rest] == sorted(fam[n] for n in rest)


def test_oracle_membership_matches_perfbench():
    """perfbench's sketch_queries workload holds a class to the exact
    tolerance when it is in ORACLE_SQL, and to the approximate one with
    its own exact SQL otherwise."""
    from perfbench.workloads import SketchQueries
    assert len(ORACLE_SQL) == 176
    oracled = {q for q in SketchQueries.MIX if q in ORACLE_SQL}
    assert oracled == set(SketchQueries.MIX) - set(SketchQueries.EXACT_SQL)


def test_readme_inventory_is_current():
    inventory = _tool("inventory")
    readme = (ROOT / "README.md").read_text()
    start = readme.index(inventory.BEGIN)
    end = readme.index(inventory.END) + len(inventory.END)
    assert readme[start:end] == inventory.block(), \
        "README.md inventory is stale: run python tools/inventory.py"


def test_declaration_checks(monkeypatch):
    monkeypatch.setattr(_registry, "DECLARED", [])
    with pytest.raises(ValueError):
        _registry.query()
    with pytest.raises(ValueError):
        _registry.query(oracle="SELECT 1", gate="tests/test_registry.py")
    with pytest.raises(ValueError):
        _registry.query(gate="tests/test_registry.py", window=1)
    with pytest.raises(ValueError):
        _registry.query(oracle="SELECT 1", window=51)
    with pytest.raises(ValueError):
        _registry.query(gate="tests/test_registry.py", oracle_replace="x")

    def q_x(spark, sf_dir):
        return None
    q_x.__module__ = "datasketches_rust_spark.queries.stats"
    _registry.query(oracle="SELECT 1 AS d", oracle_replace="'a' AS d")(q_x)
    (q,) = _registry.DECLARED
    assert (q.name, q.family) == ("x", "stats")
    assert q.oracle == ("SELECT * REPLACE ('a' AS d)\n"
                        "FROM (\nSELECT 1 AS d\n) _gate")
    with pytest.raises(ValueError, match="window slots"):
        _registry.ordered()
    _registry.query(oracle="SELECT 1")(q_x)
    with pytest.raises(ValueError, match="declared twice"):
        _registry.ordered()
