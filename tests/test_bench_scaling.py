"""The scaling driver (scripts/bench_scaling.py) against the committed
BENCH/scaling*.json evidence. Pure Python: no Spark session starts."""

import argparse
import glob
import importlib.util
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_driver():
    spec = importlib.util.spec_from_file_location(
        "bench_scaling", os.path.join(REPO, "scripts", "bench_scaling.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve annotations through it
    spec.loader.exec_module(mod)
    return mod


bs = _load_driver()
COMMITTED = {
    os.path.basename(p): json.load(open(p))
    for p in sorted(glob.glob(os.path.join(REPO, "BENCH", "scaling*.json")))
}
LEG_BY_FILE = {leg.out: (name, leg) for name, leg in bs.LEGS.items()}


def test_legs_map_one_to_one_onto_committed_files():
    assert len(bs.LEGS) == 9
    assert len(LEG_BY_FILE) == len(bs.LEGS), "two legs write the same file"
    assert set(LEG_BY_FILE) == set(COMMITTED)
    for name, leg in bs.LEGS.items():
        assert leg.out == ("scaling.json" if name == "pip" else f"scaling_{name}.json")
        assert (leg.gen is None) == (leg.input is None)
        bs.parse_levels(leg.levels)


@pytest.mark.parametrize("fname", sorted(COMMITTED))
def test_result_builder_matches_committed_shape(fname):
    committed = COMMITTED[fname]
    _name, leg = LEG_BY_FILE[fname]
    (lo_e, lo_c), (hi_e, hi_c) = bs.parse_levels(leg.levels)
    samples = {
        "lo": [bs.level_record(leg, lo_e, lo_c, 1000, t) for t in (4.0, 3.0)],
        "hi": [bs.level_record(leg, hi_e, hi_c, 1000, t) for t in (1.5, 1.0)],
    }
    result = bs.build_result(leg, 1000, samples)
    assert set(result) == set(committed)
    assert [set(lv) for lv in result["levels"]] == [set(lv) for lv in committed["levels"]]
    assert set(result["all_samples"]) == set(committed["all_samples"])
    for key in ("lo", "hi"):
        for got, want in zip(result["all_samples"][key], committed["all_samples"][key]):
            assert set(got) == set(want)
    # per-level minimum, efficiency 3.0 / (4 * 1.0)
    assert [lv["elapsed_sec"] for lv in result["levels"]] == [3.0, 1.0]
    assert result["scaling_efficiency"] == 0.75 and result["pass"] is False


@pytest.mark.parametrize("fname", sorted(COMMITTED))
def test_efficiency_reproduces_committed_value(fname):
    committed = COMMITTED[fname]
    lo, hi = committed["levels"]
    assert bs.efficiency(lo, hi) == committed["scaling_efficiency"]
    assert committed["pass"] == (committed["scaling_efficiency"] >= committed["target"])


def test_parse_levels_rejects_malformed():
    assert bs.parse_levels("1x2,4x8") == ((1, 2), (4, 8))
    for bad in ("1x2", "1x2,1x8,1x16", "1x0,1x4", "2,8", "ax2,1x8"):
        with pytest.raises(argparse.ArgumentTypeError):
            bs.parse_levels(bad)
