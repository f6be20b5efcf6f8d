"""Spark-free check that every function the benchmark's layer plans and
the scaling harness' own workloads (tools/scaling.py) name still exists:
``perfbench/run.py --trace 1`` swaps each ``(module, attribute)`` for a
timing wrapper, so renaming one of them breaks the traced run."""

import importlib
import importlib.util
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def _load(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve it by name
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {
    **_load("perfbench_workloads", ROOT / "perfbench" / "workloads.py"
            ).WORKLOADS,
    **{cls.name: cls for cls, _ in _load(
        "scaling_harness", ROOT / "tools" / "scaling.py").AXES.values()},
}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_layer_plan_attributes_resolve(name):
    for mod, attr, _layer, _counter in WORKLOADS[name].layer_plan:
        assert callable(getattr(importlib.import_module(mod), attr)), \
            f"{name}: {mod}.{attr}"
