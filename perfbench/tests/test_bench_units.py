"""Unit tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import numpy as np
import pytest

import reference
from run import tail
from spans import parse_metric, raw_to_base

# strings as Spark 4.1's SQL status store formats them
CAPTURED = [
    ("0.0 B", "size", 0.0),
    ("5.0 KiB", "size", 5.0 * 1024),
    ("16.2 MiB", "size", 16.2 * 2**20),
    ("1.5 GiB", "size", 1.5 * 2**30),
    (
        "total (min, med, max (stageId: taskId))\n9.4 KiB (2.3 KiB, 2.3 KiB, 2.3 KiB (stage 1.0: task 5))",
        "size",
        9.4 * 1024,
    ),
    (
        "total (min, med, max (stageId: taskId))\n1024.0 KiB (256.0 KiB, 256.0 KiB, 256.0 KiB (stage 1.0: task 4))",
        "size",
        1024.0 * 1024,
    ),
    ("13 ms", "timing", 0.013),
    (
        "total (min, med, max (stageId: taskId))\n1.1 s (263 ms, 265 ms, 271 ms (stage 0.0: task 1))",
        "timing",
        1.1,
    ),
    (
        "total (min, med, max (stageId: taskId))\n34 ms (2 ms, 9 ms, 16 ms (stage 0.0: task 2))",
        "nsTiming",
        0.034,
    ),
    ("2.5 m", "timing", 150.0),
    ("200,000", "sum", 200000.0),
    ("100", "sum", 100.0),
]


@pytest.mark.parametrize("text,kind,want", CAPTURED)
def test_parse_metric_captured(text, kind, want):
    assert parse_metric(text, kind) == pytest.approx(want)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_metric("3 parsecs", "size")


def test_raw_values_share_parsed_units():
    assert raw_to_base(34_489_145, "nsTiming") == pytest.approx(0.034489145)
    assert raw_to_base(1062, "timing") == pytest.approx(1.062)
    assert raw_to_base(5084, "size") == 5084.0


def test_tail_is_highest_percentile_with_ten_beyond():
    vals = [float(v) for v in range(1, 31)]  # 30 samples
    pct, value = tail(vals)
    assert value == 20.0  # ten samples (21..30) lie beyond it
    assert pct == pytest.approx(100.0 * 20 / 30)
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


def _dbscan_brute(ids, x, y, eps, min_pts):
    n = len(ids)
    d2 = (x[:, None] - x[None, :]) * (x[:, None] - x[None, :]) + (y[:, None] - y[None, :]) * (
        y[:, None] - y[None, :]
    )
    nb = d2 <= eps * eps
    core = nb.sum(axis=1) >= min_pts
    label = np.full(n, -1, dtype=np.int64)
    for i in np.argsort(ids):  # flood fill from the smallest core id
        if not core[i] or label[i] >= 0:
            continue
        stack, label[i] = [i], ids[i]
        while stack:
            j = stack.pop()
            for k in np.nonzero(nb[j] & core)[0]:
                if label[k] < 0:
                    label[k] = ids[i]
                    stack.append(k)
    for i in range(n):
        if not core[i]:
            cl = label[nb[i] & core]
            label[i] = cl.min() if cl.size else -1
    return core, label


@pytest.mark.parametrize("seed", range(5))
def test_reference_dbscan_matches_brute_force(seed):
    rng = np.random.default_rng(seed)
    n = 300
    x = np.concatenate([rng.normal(0, 0.05, n // 2), rng.uniform(-0.5, 0.5, n - n // 2)])
    y = np.concatenate([rng.normal(0, 0.05, n // 2), rng.uniform(-0.5, 0.5, n - n // 2)])
    ids = rng.permutation(n).astype(np.int64) * 3 + 1
    want = _dbscan_brute(ids, x, y, 0.04, 5)
    got = reference.dbscan(ids, x, y, 0.04, 5)
    assert np.array_equal(got[0], want[0])
    assert np.array_equal(got[1], want[1])


def test_reference_winding_inside_concave_ring():
    ring = np.array([(0, 0), (4, 0), (4, 4), (2, 1), (0, 4), (0, 0)], dtype=float)
    px = np.array([1.0, 2.0, 3.0, 2.0, 5.0])
    py = np.array([1.0, 3.0, 1.0, 0.5, 1.0])
    assert reference._winding_inside(px, py, ring).tolist() == [True, False, True, True, False]
