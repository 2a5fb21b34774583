"""PIP cover and join machinery: the interval cover holds every point the
ray-cast puts inside, and both strategies return exactly the brute-force
pairs."""

import numpy as np
import pytest

from pvt_spark import hilbert as hb
from pvt_spark.operators.pip import (
    _cover_tiles_lonlat,
    _ray_cast,
    point_in_polygon_join,
)

KEY_ZOOM = 6
POLY_DDL = (
    "admin_id long, name string, "
    "rings array<array<struct<lon_dm7:int, lat_dm7:int>>>"
)


def _dm7(ring):
    return [(int(round(lon * 1e7)), int(round(lat * 1e7))) for lon, lat in ring]


def _inside(px, py, rings):
    """The engine's even-odd rule over every ring of one polygon."""
    acc = np.zeros(len(px), dtype=bool)
    for ring in rings:
        acc ^= _ray_cast(px, py, np.asarray(ring, np.float64))
    return acc


# a 2 degree diagonal edge near 59N curves away from the straight chord in
# Mercator grid space; the first triangle lies on the side the chord cuts off
TRIANGLES = {
    "north_of_diagonal": [(10, 58), (12, 60), (10, 60), (10, 58)],
    "south_of_diagonal": [(10, 58), (12, 58), (12, 60), (10, 58)],
}


@pytest.mark.parametrize("name", sorted(TRIANGLES))
def test_cover_holds_every_inside_point_at_fine_zooms(name):
    ring = np.array(_dm7(TRIANGLES[name]), np.int64)
    lons, lats = ring[:, 0], ring[:, 1]
    rng = np.random.default_rng(7)
    px = rng.integers(lons.min(), lons.max() + 1, 400_000)
    py = rng.integers(lats.min(), lats.max() + 1, 400_000)
    inside = _ray_cast(px.astype(np.float64), py.astype(np.float64), ring.astype(np.float64))
    assert inside.sum() > 150_000
    x, y = hb.lonlat_to_xy(px[inside], py[inside])
    for z in range(8, 17):
        tiles = hb.xy2h(x >> (32 - z), y >> (32 - z), z)
        missed = ~np.isin(tiles, _cover_tiles_lonlat(lons, lats, z))
        assert not missed.any(), (z, int(missed.sum()))


def _star(rng, cx, cy, r, n, squash=1.0):
    """Closed star-shaped ring around (cx, cy) in degrees: vertices at
    radius 0.6-1.0 r, angles a jittered even spread, so with n >= 9 the
    (squashed) disk of radius 0.45 r around the centre is inside it."""
    step = 2 * np.pi / n
    ang = np.arange(n) * step + rng.uniform(0, 0.3 * step, n)
    rad = r * rng.uniform(0.6, 1.0, n)
    ring = [(cx + a * np.cos(t), cy + squash * a * np.sin(t)) for a, t in zip(rad, ang)]
    return ring + [ring[0]]


def _random_polygons(seed):
    """Polygons (admin_id, name, rings in degrees) that stress the cover:
    long diagonal edges above 55N, polygons centred on key-tile corners,
    polygons larger than a key tile, overlapping polygons, and holes."""
    rng = np.random.default_rng(seed)
    key = 360.0 / (1 << KEY_ZOOM)
    polys = []

    def add(name, outer, holes=()):
        polys.append((len(polys) + 1, name, [outer, *holes]))

    for i in range(3):  # long diagonal edges at high latitude
        lon0, lat0 = rng.uniform(-30, 30), rng.uniform(55, 62)
        d = rng.uniform(0.5, 3.0)
        add(f"diag_{i}", [(lon0, lat0), (lon0 + d, lat0 + d), (lon0, lat0 + d), (lon0, lat0)])
        add(f"diag_m{i}", [(lon0, lat0), (lon0 + d, lat0), (lon0 + d, lat0 + d), (lon0, lat0)])
    # too long for a finer cover than the key zoom: the edge's Mercator
    # curvature is a sizeable share of a key tile
    lon0, lat0, d = rng.uniform(-30, 30), rng.uniform(56, 60), rng.uniform(10, 15)
    add("diag_long", [(lon0, lat0), (lon0 + d, lat0 + d), (lon0, lat0 + d), (lon0, lat0)])
    for i in range(3):  # centred on a key-tile corner (x edge at the key zoom)
        cx = key * rng.integers(-10, 10)
        cy = rng.uniform(-50, 50)
        r = rng.uniform(0.05, 1.0)
        add(f"straddle_{i}", _star(rng, cx, cy, r, 9), [_star(rng, cx, cy, 0.4 * r, 5)[::-1]])
    for i in range(2):  # larger than a key tile, with a hole
        cx, cy = rng.uniform(-40, 40), rng.uniform(-60, 60)
        r = rng.uniform(1.2, 2.0) * key
        add(f"large_{i}", _star(rng, cx, cy, r, 24, 0.5), [_star(rng, cx, cy, 0.4 * r, 8, 0.5)[::-1]])
    for i in range(3):  # overlapping small jagged polygons, fine cover zooms
        cx, cy = 7.0 + rng.uniform(-0.02, 0.02), 58.5 + rng.uniform(-0.02, 0.02)
        r = rng.uniform(0.01, 0.06)
        add(f"overlap_{i}", _star(rng, cx, cy, r, 14), [_star(rng, cx, cy, 0.4 * r, 6)[::-1]])
    return polys


def _points_around(polys, seed, per_poly=400):
    """Uniform dm7 points over each polygon's padded bbox."""
    rng = np.random.default_rng(seed + 1)
    lon, lat = [], []
    for _, _, rings in polys:
        o = np.array(rings[0])
        (x0, y0), (x1, y1) = o.min(axis=0), o.max(axis=0)
        pad = 0.1 * max(x1 - x0, y1 - y0)
        lon.append(rng.uniform(x0 - pad, x1 + pad, per_poly))
        lat.append(rng.uniform(y0 - pad, y1 + pad, per_poly))
    return np.concatenate(lon).astype(np.int64), np.concatenate(lat).astype(np.int64)


@pytest.mark.parametrize("seed", [3, 17])
def test_pip_strategies_match_brute_force(spark, seed):
    polys = [(a, n, [_dm7(r) for r in rings]) for a, n, rings in _random_polygons(seed)]
    lon, lat = _points_around(polys, seed)
    h = hb.lonlat_to_signed_h(lon, lat)
    pts = spark.createDataFrame(
        list(zip(range(len(lon)), lon.tolist(), lat.tolist(), h.tolist())),
        "feature_id long, lon_dm7 int, lat_dm7 int, h long",
    )
    px, py = lon.astype(np.float64), lat.astype(np.float64)
    want = set()
    for aid, _, rings in polys:
        want |= {(int(f), aid) for f in np.flatnonzero(_inside(px, py, rings))}
    assert len(want) > 1000
    polygons = spark.createDataFrame(polys, POLY_DDL)
    for strategy in ("broadcast", "partitioned"):
        out = point_in_polygon_join(pts, polygons, cover_zoom=KEY_ZOOM, strategy=strategy)
        got = [(r.feature_id, r.admin_id) for r in out.collect()]
        assert len(got) == len(set(got)), strategy
        assert set(got) == want, (strategy, len(set(got) ^ want))

