"""Seeded inputs the benchmark hands to the engine: admin-like polygons,
radius-join query points and the tile-lookup sample. Pages come from the
engine's own ``sources.pages.synthesize_pages`` (80% of mentions in five
hot cells). The same seed always gives the same inputs."""

from __future__ import annotations

import numpy as np

from pvt_spark.sources.pages import HOT_CELLS

POLYGON_SCHEMA = (
    "admin_id long, admin_level int, name string, "
    "rings array<array<struct<lon_dm7:int, lat_dm7:int>>>"
)


def _ring(cx: float, cy: float, radii: np.ndarray) -> list[tuple[int, int]]:
    """Closed ring with one vertex per radius, evenly spaced in angle."""
    ang = np.linspace(0.0, 2 * np.pi, len(radii), endpoint=False)
    pts = [
        (int(round(cx + r * np.cos(a))), int(round(cy + r * np.sin(a))))
        for a, r in zip(ang, radii)
    ]
    return pts + [pts[0]]


def large_polygons(seed: int) -> list[tuple]:
    """One large polygon with a hole per hot cell: most of its cover is
    interior tiles, and it holds most of the skewed points."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for i, (lon, lat) in enumerate(HOT_CELLS.tolist()):
        cx = lon + rng.integers(-300_000, 300_000)
        cy = lat + rng.integers(-300_000, 300_000)
        r = rng.uniform(1_500_000, 2_200_000)
        outer = _ring(cx, cy, r * rng.uniform(0.85, 1.15, 48))
        hole = _ring(cx, cy, 0.35 * r * rng.uniform(0.9, 1.1, 12))
        out.append((i + 1, 4, f"large_{i}", [outer, hole]))
    return out


def jagged_polygons(seed: int, n: int = 12) -> list[tuple]:
    """Many small star-shaped polygons: their cover is all boundary
    tiles. Most sit near the hot cells, the rest anywhere on land-like
    latitudes."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(n):
        if rng.random() < 0.7:
            lon, lat = HOT_CELLS[int(rng.integers(len(HOT_CELLS)))].tolist()
            cx = lon + rng.integers(-2_500_000, 2_500_000)
            cy = lat + rng.integers(-2_500_000, 2_500_000)
        else:
            cx = rng.integers(-1_700_000_000, 1_700_000_000)
            cy = rng.integers(-600_000_000, 600_000_000)
        r = rng.uniform(100_000, 500_000)
        k = int(rng.integers(8, 16))
        spikes = np.tile([1.0, 0.4], k) * rng.uniform(0.8, 1.2, 2 * k)
        out.append((1000 + i, 8, f"jagged_{i}", [_ring(cx, cy, r * spikes)]))
    return out


def query_rows(points: dict, seed: int, n: int = 100) -> list[tuple]:
    """``n`` query points drawn from the planet's own points (so they
    follow the same skew): (query_id, lon_dm7, lat_dm7, h)."""
    rng = np.random.default_rng([seed, 3])
    idx = rng.choice(len(points["feature_id"]), size=min(n, len(points["feature_id"])), replace=False)
    return [
        (int(points["feature_id"][i]), int(points["lon_dm7"][i]), int(points["lat_dm7"][i]), int(points["h"][i]))
        for i in sorted(idx)
    ]


def lookup_sample(manifest_keys: list[tuple[int, int]], seed: int, n: int, leaf_zoom: int = 12):
    """Seeded tile lookups: half leaf-zoom tiles that exist, a quarter
    lower even-zoom tiles that exist, an eighth odd-zoom tiles and an
    eighth leaf-zoom tiles that do not exist. Returns (kind, z, h);
    kinds "odd" and "absent" must come back empty."""
    rng = np.random.default_rng([seed, 4])
    keys = set(manifest_keys)
    leaf = sorted(k for k in keys if k[0] == leaf_zoom)
    lower = sorted(k for k in keys if k[0] < leaf_zoom)
    out = []
    for i in range(n):
        slot = i % 8
        if slot < 4 and leaf:
            z, h = leaf[int(rng.integers(len(leaf)))]
            out.append(("leaf", z, h))
        elif slot < 6 and lower:
            z, h = lower[int(rng.integers(len(lower)))]
            out.append(("lower", z, h))
        elif slot == 6:
            z = int(rng.choice([5, 7, 9, 11]))
            out.append(("odd", z, int(rng.integers(1 << (2 * z)))))
        else:
            while True:
                h = int(rng.integers(1 << (2 * leaf_zoom)))
                if (leaf_zoom, h) not in keys:
                    break
            out.append(("absent", leaf_zoom, h))
    return out
