"""Spark-free checks of tools/scaling.py: the ladder arithmetic and the
errors it raises for a ladder it cannot run. No level is started."""

import importlib.util
import sys
from pathlib import Path

import pytest

SCALING_PY = Path(__file__).resolve().parent.parent / "tools" / "scaling.py"


def _load_scaling():
    spec = importlib.util.spec_from_file_location("scaling_harness",
                                                  SCALING_PY)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


S = _load_scaling()


def test_core_steps_speedup_and_inflation():
    levels = [{"round": 0, "cores": 1, "job_s": 5.48, "job_cpu_s": 5.48},
              {"round": 0, "cores": 4, "job_s": 3.78, "job_cpu_s": 8.38}]
    (step,) = S.core_steps(levels)
    assert step["cores"] == [1, 4]
    assert step["speedup"]["median"] == pytest.approx(5.48 / 3.78)
    assert step["cpu_inflation"]["median"] == pytest.approx(8.38 / 5.48)


def test_core_steps_pair_levels_within_each_round():
    # the box slows down between rounds: each round's step still compares
    # its own two levels, so the drift does not reach the ratios
    levels = [{"round": r, "cores": c, "job_s": w * k, "job_cpu_s": cpu * k}
              for r, k in enumerate((1.0, 2.0, 1.5))
              for c, w, cpu in ((1, 6.0, 6.0), (2, 4.0, 7.0), (4, 3.0, 9.0))]
    s12, s24 = S.core_steps(levels)
    assert s12["cores"] == [1, 2] and s24["cores"] == [2, 4]
    assert s12["speedup"]["runs"] == pytest.approx([1.5] * 3)
    assert s24["cpu_inflation"]["runs"] == pytest.approx([9 / 7] * 3)


def test_spread():
    assert S.spread([1.3, 1.5, 1.2]) == {"median": 1.3, "min": 1.2,
                                         "max": 1.5, "runs": [1.3, 1.5, 1.2]}


def test_growth_per_4x():
    assert S.growth_per_4x(100, 700, 4) == pytest.approx(7.0)
    # a 2x step that doubles is linear: 4x per 4x
    assert S.growth_per_4x(10, 20, 2) == pytest.approx(4.0)
    # quadratic over a 16x step: 16x per 4x
    assert S.growth_per_4x(1, 256, 16) == pytest.approx(16.0)
    assert S.growth_per_4x(0, 5, 4) is None


def test_size_steps_growth_of_every_count():
    lo = {"scale": 1, "input_rows": 1200, "job_cpu_s": 2.0,
          "counts": {"visual.band_events": 24730, "cc.rows_out": 300}}
    hi = {"scale": 4, "input_rows": 4800, "job_cpu_s": 8.0,
          "counts": {"visual.band_events": 173240, "cc.rows_out": 1200}}
    (step,) = S.size_steps([lo, hi])
    g = step["growth_per_4x"]
    assert step["scale"] == [1, 4]
    assert g["input_rows"] == pytest.approx(4.0)
    assert g["job_cpu_s"] == pytest.approx(4.0)
    assert g["cc.rows_out"] == pytest.approx(4.0)
    assert g["visual.band_events"] == pytest.approx(173240 / 24730)


def test_level_record_keeps_the_ladder_figures():
    describe = {"cores": 4, "commit": "abc", "seed": 901,
                "loadavg_start": [0.5, 0.4, 0.3], "steal_frac": 0.01,
                "input_rows": 7200, "trace": 1, "end_to_end": {
                    "job_cpu_s": {"value": 8.4}, "job_s": {"value": 3.8},
                    "setup_s": {"value": 40.0},
                    "pair_recall": {"value": 1.0}}}
    result = {"attempted": 3, "failed": 0, "metrics": {
        "lsh.rows_out": {"value": 4292}, "lsh.wall_s": {"value": 1.0},
        "lsh.candidates": {"value": 4292}, "vote.rows_out": {"value": 0},
        "visual.band_events": {"value": 0}}}
    rec = S.level_record(describe, result, 4)
    assert rec["scale"] == 4 and rec["cores"] == 4
    assert rec["job_cpu_s"] == 8.4 and rec["steal_frac"] == 0.01
    assert rec["ops_failed"] == 0 and rec["pair_recall"] == 1.0
    # figures of layers the workload bypasses are left out
    assert rec["counts"] == {"lsh.rows_out": 4292, "lsh.candidates": 4292}


def test_parse_ladder():
    assert S.parse_ladder("video", "1,4") == [1, 4]
    assert S.parse_ladder("text", "1,2,4") == [1, 2, 4]


@pytest.mark.parametrize("axis, levels, msg", [
    ("audio", "1,4", "unknown axis"),
    ("text", "4", "at least two levels"),
    ("text", "4,1", "increase"),
    ("text", "1,1", "increase"),
    ("text", "0,4", "positive"),
    ("text", "1,x", "integers"),
])
def test_parse_ladder_rejects(axis, levels, msg):
    with pytest.raises(S.LadderError, match=msg):
        S.parse_ladder(axis, levels)


def test_every_axis_scales_constants_of_its_workload():
    for axis, (cls, sizes) in S.AXES.items():
        assert sizes, axis
        for attr in sizes:
            assert isinstance(getattr(cls, attr), int), (axis, attr)
