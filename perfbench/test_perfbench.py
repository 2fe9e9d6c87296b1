"""The benchmark's own tests: oracle, generator, tail rule and the F1
self-check of the counting code.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from gen import Window, World  # noqa: E402
from oracle import Model, in_polygon, point_wkb, point_xy, replay  # noqa: E402


def test_wkb_points_roundtrip_and_match_package_codec():
    from iceberg_geo_poc_spark.geo import Point, geometry_to_wkb

    x, y = np.array([0.5, -179.25, 3e-9]), np.array([-1.0, 89.5, 42.0])
    raw = point_wkb(x, y)
    assert raw == [bytes(geometry_to_wkb(Point(a, b))) for a, b in zip(x, y)]
    gx, gy = point_xy(raw)
    assert np.array_equal(gx, x) and np.array_equal(gy, y)


def test_in_polygon_convex_and_concave():
    square = ((0, 0), (2, 0), (2, 2), (0, 2))
    x, y = np.array([1.0, 3.0, -0.5, 1.9]), np.array([1.0, 1.0, 1.0, 0.1])
    assert in_polygon(x, y, square).tolist() == [True, False, False, True]
    # a "C": the notch (1.5, 1) is outside, the arms are inside
    c = ((0, 0), (2, 0), (2, 0.5), (1, 0.5), (1, 1.5), (2, 1.5), (2, 2), (0, 2))
    x, y = np.array([1.5, 0.5, 1.5, 1.5]), np.array([1.0, 1.0, 0.25, 1.75])
    assert in_polygon(x, y, c).tolist() == [False, True, True, True]


def test_window_mask_kinds():
    m = Model()
    m.append(np.arange(4), np.ones(4), np.array([0.0, 1.0, 2.0, 5.0]), np.array([0.0, 1.0, 2.0, 5.0]))
    assert m.expect(Window("box", "st_intersects", box=(0, 0, 2, 2))) == (3, 3, 3.0)
    assert m.expect(Window("box", "st_intersects", box=(0, 0, 2, 2), id_max=1)) == (2, 1, 2.0)
    assert m.expect(Window("point", "st_covers", point=(5.0, 5.0))) == (1, 3, 1.0)
    ring = ((1.5, 1.5), (3, 1.5), (3, 3), (1.5, 3))
    assert m.expect(Window("polygon", "st_intersects", ring=ring)) == (1, 2, 1.0)


def test_model_and_duckdb_replay_agree():
    w = World(3)
    m, log, next_id = Model(), [], 0
    for step in range(12):
        if step % 3 == 0:
            x, y = w.local_batch(50)
            ids = np.arange(next_id, next_id + 50)
            next_id += 50
            v = w.values(50)
            m.append(ids, v, x, y)
            log.append(("append", ids, v, x, y))
        elif step % 3 == 1:
            pick = w.rng.choice(len(m), size=10, replace=False)
            ids, (x, y) = m.ids[pick], w.moved(m.x[pick], m.y[pick])
            v = w.values(10)
            m.upsert(ids, v, x, y)
            log.append(("upsert", ids, v, x, y))
        else:
            b = w.delete_box()
            m.delete_box(b)
            log.append(("delete_box", b))
    got = replay(log)
    order = np.argsort(m.ids)
    for a, b in zip(got, (m.ids[order], m.v[order], m.x[order], m.y[order])):
        assert np.array_equal(a, b)


def test_world_is_deterministic_per_seed():
    def draw(seed):
        w = World(seed)
        x, y = w.clustered_points(100)
        return [w.window(x, y, 99) for _ in range(20)], x

    (a, xa), (b, xb), (c, _) = draw(5), draw(5), draw(6)
    assert a == b and np.array_equal(xa, xb)
    assert a != c


def test_tail_is_highest_percentile_with_ten_beyond():
    from workloads import percentile_tail

    assert percentile_tail(list(range(10))) is None
    value, p = percentile_tail([float(i) for i in range(100)])
    assert p == 90 and value == pytest.approx(89.1)
    assert percentile_tail([1.0] * 20)[1] == 50


def test_f1_selfcheck_goldens(tmp_path):
    """FIXTURES.md F1: the counting code reproduces all 13 golden
    (files-scanned, rows) pairs."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import selfcheck
    from iceberg_geo_poc_spark.session import get_spark

    spark = get_spark("perfbench-tests")
    assert selfcheck.check(spark, str(tmp_path / "wh")) == []
