"""Deterministic fixture planets (FIXTURES.md §6-§7).

- ``nodes4``: exact replica of the reference's 4-node micro-planet
  (/root/reference/tests/fixtures/nodes4.osm:3-51). Golden invariant:
  exactly 3 distinct leaf tiles at z12 (reference
  src/hilbert/leaf.rs:424-454).
- ``minicruz``: seeded mid-size planet (points + ways + nested
  relations + hot-cell skew) for pipeline tests.
- ``admin_polygons``: synthetic convex admin areas with known point
  membership for PIP golden counts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .. import hilbert as hb
from ..session import local_frame

# (feature_id, lon_dm7, lat_dm7, tags) — reference tests/fixtures/nodes4.osm
NODES4 = [
    (
        137747,
        -1220279745,
        370491457,
        {"amenity": "bus_station", "name": "Cavallaro Transit Center"},
    ),
    (137750, -1220267360, 369514859, {"man_made": "lighthouse"}),
    (137752, -1220267093, 369514589, {"tourism": "museum", "name": "Surfing Museum"}),
    (137754, -1220268977, 369495675, {"place": "islet", "ele": "2"}),
]


def nodes4(spark: SparkSession) -> DataFrame:
    rows = []
    for fid, lon, lat, tags in NODES4:
        h = int(hb.lonlat_to_signed_h(np.array([lon]), np.array([lat]))[0])
        rows.append((fid, lon, lat, tags, h))
    return local_frame(
        spark,
        rows,
        "feature_id long, lon_dm7 int, lat_dm7 int, tags map<string,string>, h long",
    )


def _minicruz_frames(
    n_points: int = 20000, n_ways: int = 1000, n_relations: int = 100, seed: int = 42
):
    """Numpy/pandas construction (driver-side; fixture scale only)."""
    rng = np.random.RandomState(seed)
    # bbox around Santa Cruz with two hot cells for skew
    hot = np.array([(-1220280000, 370490000), (-1220100000, 369700000)], dtype=np.int64)
    is_hot = rng.rand(n_points) < 0.8
    cell = rng.randint(0, len(hot), n_points)
    jit = rng.randint(-300_000, 300_000, size=(n_points, 2))
    lon = np.where(is_hot, hot[cell, 0] + jit[:, 0], rng.randint(-1221500000, -1218500000, n_points))
    lat = np.where(is_hot, hot[cell, 1] + jit[:, 1], rng.randint(368500000, 371500000, n_points))
    h = hb.lonlat_to_signed_h(lon, lat)
    kinds = np.array(["amenity", "shop", "highway", "natural", "power"])
    vals = np.array(["bus_station", "supermarket", "primary", "tree", "pole"])
    ki = rng.randint(0, len(kinds), n_points)
    points = pd.DataFrame(
        {
            "feature_id": np.arange(n_points, dtype=np.int64),
            "lon_dm7": lon.astype(np.int32),
            "lat_dm7": lat.astype(np.int32),
            "tag_key": kinds[ki],
            "tag_value": vals[ki],
            "h": h,
        }
    )
    # ways reference 3..12 consecutive points; half are closed rings
    way_rows = []
    for wid in range(n_ways):
        n_refs = rng.randint(3, 13)
        start = rng.randint(0, n_points - n_refs)
        refs = list(range(start, start + n_refs))
        closed = bool(rng.rand() < 0.5 and n_refs >= 4)
        if closed:
            refs.append(refs[0])
        way_rows.append(
            (
                int(1_000_000 + wid),
                refs,
                "building" if closed else "highway",
                "yes" if closed else "residential",
            )
        )
    ways = pd.DataFrame(way_rows, columns=["feature_id", "refs", "tag_key", "tag_value"])
    # relations: members are points/ways; ~10% reference another relation (nested)
    rel_rows = []
    for rid in range(n_relations):
        n_m = rng.randint(2, 6)
        members = []
        for _ in range(n_m):
            if rid > 0 and rng.rand() < 0.1:
                members.append(("r", int(2_000_000 + rng.randint(0, rid))))
            elif rng.rand() < 0.5:
                members.append(("w", int(1_000_000 + rng.randint(0, n_ways))))
            else:
                members.append(("n", int(rng.randint(0, n_points))))
        rel_rows.append((int(2_000_000 + rid), members))
    relations = pd.DataFrame(rel_rows, columns=["feature_id", "members"])
    return points, ways, relations


def minicruz(spark: SparkSession, **kw):
    points_pd, ways_pd, rels_pd = _minicruz_frames(**kw)
    points = local_frame(
        spark,
        points_pd.itertuples(index=False, name=None),
        "feature_id long, lon_dm7 int, lat_dm7 int, tag_key string, tag_value string, h long",
    )
    ways = local_frame(
        spark,
        [(int(r.feature_id), [int(x) for x in r.refs], r.tag_key, r.tag_value) for r in ways_pd.itertuples()],
        "feature_id long, refs array<long>, tag_key string, tag_value string",
    )
    relations = local_frame(
        spark,
        [
            (int(r.feature_id), [(t, int(ref)) for t, ref in r.members])
            for r in rels_pd.itertuples()
        ],
        "feature_id long, members array<struct<etype:string, ref:long>>",
    )
    return points, ways, relations


def admin_polygons(spark: SparkSession, grid: int = 4) -> DataFrame:
    """grid x grid rectangular admin areas tiling the Santa Cruz bbox.

    Rectangles make PIP membership exactly computable in SQL (the
    DuckDB oracle) while still exercising the broadcast-PIP join path.
    """
    lon0, lon1 = -1221500000, -1218500000
    lat0, lat1 = 368500000, 371500000
    dlon = (lon1 - lon0) // grid
    dlat = (lat1 - lat0) // grid
    rows = []
    aid = 0
    for i in range(grid):
        for j in range(grid):
            w, e = lon0 + i * dlon, lon0 + (i + 1) * dlon
            s, n = lat0 + j * dlat, lat0 + (j + 1) * dlat
            ring = [(w, s), (e, s), (e, n), (w, n), (w, s)]
            rows.append((aid, 4 + (aid % 5), f"admin_{i}_{j}", [ring]))
            aid += 1
    return local_frame(
        spark,
        rows,
        "admin_id long, admin_level int, name string, "
        "rings array<array<struct<lon_dm7:int, lat_dm7:int>>>",
    )
