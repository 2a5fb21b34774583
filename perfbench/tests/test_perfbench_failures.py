"""Failure counting and the brute-force output checks."""

import os

import numpy as np
import pytest

import oracle
from stats import Ledger, Spans


def test_raising_operation_counts_once_and_run_continues():
    ledger, spans = Ledger(), Spans()

    def boom():
        raise RuntimeError("disk full")

    out, wall, op = spans.run("fold", boom, ledger)
    assert out is None and wall >= 0
    ok, _, op2 = spans.run("fold", lambda: 7, ledger)
    assert ok == 7
    # a later check on the failed op does not count it twice
    ledger.check(op, False, "tiles differ")
    assert ledger.attempted == 2 and ledger.failed == 1
    assert "disk full" in ledger.failures[op]
    assert [s["name"] for s in spans.items] == ["fold", "fold"]


def test_check_marks_operation_failed():
    ledger = Ledger()
    a, b = ledger.op("lookup"), ledger.op("lookup")
    assert ledger.check(a, True, "fine")
    assert not ledger.check(b, False, "odd-zoom tile returned a row")
    ledger.fail(b, "second reason")
    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert ledger.failures[b].endswith("odd-zoom tile returned a row")


def test_spans_without_ledger_raise():
    with pytest.raises(ZeroDivisionError):
        Spans().run("x", lambda: 1 / 0)


def _points(rows):
    a = np.array(rows, dtype=np.int64)
    return {"feature_id": a[:, 0], "lon_dm7": a[:, 1], "lat_dm7": a[:, 2], "h": np.zeros(len(a), np.int64)}


SQUARE = [(0, 0), (100, 0), (100, 100), (0, 100), (0, 0)]
HOLE = [(40, 40), (60, 40), (60, 60), (40, 60), (40, 40)]


def test_pip_brute_force_holes_and_edges():
    pts = _points([(1, 10, 10), (2, 50, 50), (3, 150, 50), (4, 90, 70), (5, 100, 50)])
    polys = [(7, 4, "donut", [SQUARE, HOLE])]
    inside, unsure = oracle.pip_pairs(pts, polys)
    assert inside == {(1, 7), (4, 7)}
    # a point on the east edge is too close to call either way
    assert (5, 7) in unsure
    assert oracle.check_pip({(1, 7), (4, 7)}, pts, polys) == []
    assert oracle.check_pip({(1, 7), (4, 7), (5, 7)}, pts, polys) == []
    problems = oracle.check_pip({(1, 7), (2, 7)}, pts, polys)
    assert len(problems) == 2  # (4, 7) missing, (2, 7) is in the hole


def test_radius_check_catches_wrong_answers():
    rng = np.random.default_rng(0)
    n = 50
    lon = rng.integers(-10_000_000, 10_000_000, n)
    lat = rng.integers(-10_000_000, 10_000_000, n)
    pts = {"feature_id": np.arange(n), "lon_dm7": lon, "lat_dm7": lat, "h": np.zeros(n, np.int64)}
    q = [(0, int(lon[0]), int(lat[0]), 0)]
    px, py = oracle.grid_xy(pts)
    d2 = (px - px[0]).astype(float) ** 2 + (py - py[0]).astype(float) ** 2
    order = np.argsort(d2, kind="stable")
    # strictly between the 5th and 6th nearest distances
    radius = int((np.sqrt(d2[order[4]]) + np.sqrt(d2[order[5]])) / 2)
    want = {(0, int(i)) for i in order[:5]}
    assert oracle.check_radius(want, pts, q, radius) == []
    assert oracle.check_radius(want - {(0, int(order[4]))}, pts, q, radius)
    assert oracle.check_radius(want | {(0, int(order[9]))}, pts, q, radius)


def test_decode_check_counts_features_and_bounds_distinct_ids():
    from pvt_spark.functions.pvt_codec import encode_tile

    # ids follow the feature's Hilbert key, so two features (a way and a
    # point at the same key) may share one
    feat = {"id": 7, "keys": [], "values": [], "geoms": [([1], [2])]}
    payload = encode_tile(12, 99, [{"name": "Places", "features": [feat, dict(feat)]}])
    assert oracle.decode_problems(12, 99, payload, {(12, 99): (2, 2)}) == []
    assert oracle.decode_problems(12, 99, payload, {(12, 99): (2, 1)}) == []
    assert oracle.decode_problems(12, 99, payload, {(12, 99): (3, 2)})
    assert oracle.decode_problems(12, 98, payload, None)
    assert oracle.decode_problems(12, 99, payload, {})


def test_untraced_baseline_needs_same_commit_and_box():
    import run

    a = {"commit": "abc", "nproc": 4, "local_cores": 4, "spark": "4", "pyarrow": "1",
         "numpy": "2", "python": "3.11", "calib_hilbert_s": 0.10}
    assert run._same_build_and_box(a, dict(a, calib_hilbert_s=0.14))
    assert not run._same_build_and_box(a, dict(a, calib_hilbert_s=0.16))
    assert not run._same_build_and_box(a, dict(a, commit="def"))
    assert not run._same_build_and_box(a, dict(a, nproc=32))
    assert not run._same_build_and_box({}, a)


def test_tree_cpu_counts_this_process():
    from stats import tree_cpu

    work0, jit0 = tree_cpu(os.getpid())
    x = 0
    for i in range(3_000_000):
        x += i
    work1, jit1 = tree_cpu(os.getpid())
    assert work1 > work0 and jit1 == jit0 == 0
