"""Spark-free check that every function the benchmark's layer plans name
still exists: ``perfbench/run.py --trace 1`` swaps each
``(module, attribute)`` for a timing wrapper, so renaming one of them
breaks the traced run."""

import importlib
import importlib.util
import sys
from pathlib import Path

import pytest

WORKLOADS_PY = Path(__file__).resolve().parent.parent / "perfbench" / \
    "workloads.py"


def _load_workloads():
    spec = importlib.util.spec_from_file_location("perfbench_workloads",
                                                  WORKLOADS_PY)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve it by name
    spec.loader.exec_module(mod)
    return mod.WORKLOADS


WORKLOADS = _load_workloads()


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_layer_plan_attributes_resolve(name):
    for mod, attr, _layer, _counter in WORKLOADS[name].layer_plan:
        assert callable(getattr(importlib.import_module(mod), attr)), \
            f"{name}: {mod}.{attr}"
