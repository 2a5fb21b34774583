"""Tile lookup (J7/S12), Info source (U2), multi-source compose."""

import os
import random
import time

from pyspark.sql import functions as F

from pvt_spark.functions.pvt_codec import decode_tile
from pvt_spark.operators.compose import compose_tiles
from pvt_spark.operators.serve import features_in_tile, open_planet, tile_lookup
from pvt_spark.plans.compaction import compact_planet, read_tiles
from pvt_spark.plans.pipeline import BuildConfig, build_planet
from pvt_spark.sources.info import info_features, union_sources
from pvt_spark.sources.pages import synthesize_pages
from pvt_spark.tile import Tile


def test_features_in_tile_range_lookup(spark):
    import numpy as np

    from pvt_spark import hilbert as hb

    # points in and out of z12 tile h=3329134 (Scotts Valley golden tile)
    t = Tile.from_zh(12, 3329134)
    cx, cy = t.center()
    inside_lon, inside_lat = hb.xy_to_lonlat(np.array([cx], np.uint32), np.array([cy], np.uint32))
    rows = [
        (1, int(inside_lon[0]), int(inside_lat[0])),
        (2, 0, 0),  # null island, elsewhere
    ]
    pts = spark.createDataFrame(rows, "feature_id long, lon_dm7 int, lat_dm7 int")
    from pvt_spark.functions.geo import hilbert_h

    pts = pts.withColumn("h", hilbert_h(F.col("lon_dm7"), F.col("lat_dm7")))
    got = features_in_tile(pts, 12, t.x, t.y).collect()
    assert [r.feature_id for r in got] == [1]
    # x/y outside [0, 2^z) name no tile (Tile.from_zxy would wrap them
    # onto this one)
    for x, y in [(t.x + (1 << 12), t.y), (t.x, t.y - (1 << 12)), (-1, t.y)]:
        assert features_in_tile(pts, 12, x, y).collect() == []


def test_info_source_composes_with_boundary_clamp(spark):
    info = info_features(spark, 12, 659, 1593, grandchild_levels=0)
    tiles = compose_tiles(info, ["tile_boundary", "tile_center", "tile_bearing"])
    t = Tile.from_zxy(12, 659, 1593)
    row = tile_lookup(tiles, 12, t.x, t.y).collect()
    assert len(row) == 1
    decoded = decode_tile(bytes(row[0].payload))
    names = [l["name"] for l in decoded["layers"]]
    assert names == ["tile_boundary", "tile_center", "tile_bearing"]
    # bearing layer (reference src/info.rs Bearing + src/tile.rs:336-420):
    # 3-point arrow entry-midpoint -> center -> exit-midpoint, tagged
    from pvt_spark.tile import _BEARINGS

    bear = next(l for l in decoded["layers"] if l["name"] == "tile_bearing")
    assert bear["features"], "bearing arrow present"
    for f in bear["features"]:
        tags = dict(zip(f["keys"], f["values"]))
        assert tags["bearing"] in _BEARINGS
        assert {"zoom", "h", "bearing"} <= set(tags)
        gx, gy = f["geoms"][0]
        # straight-through bearings (e.g. WE) are collinear, so DP
        # collapses the 3-point arrow to its 2 endpoints
        assert len(gx) in (2, 3)
    bnd = next(l for l in decoded["layers"] if l["name"] == "tile_boundary")
    own = [
        f
        for f in bnd["features"]
        if dict(zip(f["keys"], f["values"])).get("h") == str(t.h)
    ]
    assert own, "boundary feature for the tile itself present"
    gx, gy = own[0]["geoms"][0]
    # the tile's own boundary spans the full extent 0..8191 (JS e2e golden:
    # z-boundary 0..8191, reference tests/index.spec.mjs)
    assert min(gx) == 0 and min(gy) == 0
    assert max(gx) == 8191 and max(gy) == 8191
    # ancestors' boundaries clamp at -16384/16383
    z0 = [
        f
        for l in decoded["layers"]
        for f in l["features"]
        if dict(zip(f["keys"], f["values"])).get("zoom") == "0"
    ]
    if z0:
        gx0, gy0 = z0[0]["geoms"][0]
        assert min(gx0) == -16384 and max(gx0) == 16383


def test_union_sources(spark):
    a = info_features(spark, 4, 2, 5, grandchild_levels=0)
    b = info_features(spark, 4, 3, 5, grandchild_levels=0)
    u = union_sources(a, b)
    assert u.count() == a.count() + b.count()


def test_zero_info_tile_pyramid(spark):
    """Reference src/info.rs test_zero_info_tile analog: the z0 root tile
    with descendant levels composes a non-trivial info pyramid."""
    info = info_features(spark, 0, 0, 0, grandchild_levels=2)
    tiles = compose_tiles(info, ["tile_boundary", "tile_center", "tile_bearing"])
    row = tile_lookup(tiles, 0, 0, 0).collect()
    assert len(row) == 1
    decoded = decode_tile(bytes(row[0].payload))
    n_feats = sum(len(l["features"]) for l in decoded["layers"])
    # z0 + z1 (4) + z2 (16) tiles, boundary+center each, + bearings
    assert n_feats >= 42
    assert row[0].payload_size > 1000


def _keys(spark, path):
    return {(r.zoom, r.tile_h) for r in spark.read.parquet(path).select("zoom", "tile_h").collect()}


def _lookup_both(served, view, z, x, y):
    """(served rows, predicate-path rows) for one tile."""
    return tile_lookup(served, z, x, y).collect(), tile_lookup(view, z, x, y).collect()


def _check_served(spark, planet, must):
    """The served lookup over open_planet equals the predicate path over
    read_tiles, all columns, for sampled tiles of every zoom and for the
    ``must`` keys."""
    served = open_planet(spark, planet)["tiles"]
    view = read_tiles(spark, planet)
    by_zoom = {}
    for z, h in sorted((r.zoom, r.tile_h) for r in view.select("zoom", "tile_h").collect()):
        by_zoom.setdefault(z, []).append(h)
    assert 12 in by_zoom and all(z % 2 == 0 for z in by_zoom)
    rng = random.Random(7)
    sample = [(z, h) for z, hs in sorted(by_zoom.items()) for h in rng.sample(hs, min(3, len(hs)))]
    for z, h in sample + sorted(must):
        t = Tile.from_zh(z, h)
        got, want = _lookup_both(served, view, z, t.x, t.y)
        assert len(want) == 1 and got == want, (z, h)
        assert bytes(got[0].payload) == bytes(want[0].payload)
    return served, view, by_zoom


def test_served_lookup_equals_read_tiles_across_folds(spark, tmp_path):
    cfg = BuildConfig()
    planet = str(tmp_path / "planet")
    build_planet(spark, synthesize_pages(spark, 150, seed=1, partitions=2), planet, cfg)
    _check_served(spark, planet, set())
    for gen, (seed, n) in enumerate([(2, 60), (3, 40)], start=1):
        compact_planet(spark, planet, synthesize_pages(spark, n, seed=seed, partitions=1), cfg)
        gens = [_keys(spark, os.path.join(planet, "tiles_delta", f"gen={g}")) for g in range(1, gen + 1)]
        # the newest generation's tiles, and those it rewrites over gen 1
        newest = gens[-1]
        must = set(sorted(newest)[:4]) | set(sorted(newest & gens[0])[:4])
        served, view, by_zoom = _check_served(spark, planet, must)
    # a tile rewritten in gen 2 over gen 1 and over the base
    base = _keys(spark, os.path.join(planet, "tiles"))
    assert base & gens[0] & gens[1]

    # edge cases answer empty on both paths: odd zoom, zoom above the
    # pyramid, an absent tile, and x/y outside [0, 2^z)
    t = Tile.from_zh(12, by_zoom[12][0])
    absent = next(h for h in range(1 << 24) if h not in set(by_zoom[12]))
    a = Tile.from_zh(12, absent)
    odd, above = t.at_zoom(11), t.at_zoom(14)
    for z, x, y in [
        (odd.z, odd.x, odd.y), (above.z, above.x, above.y), (12, a.x, a.y),
        (0, 1, 0), (0, 0, -1), (2, 4, 0), (2, -1, 0), (40, 0, 0),
        (12, t.x + (1 << 12), t.y), (12, t.x, t.y - (1 << 12)), (12, -1, t.y),
    ]:
        assert _lookup_both(served, view, z, x, y) == ([], []), (z, x, y)
    got, want = _lookup_both(served, view, 0, 0, 0)
    assert got == want
    # a frame derived from the served one takes the predicate path
    derived = served.where(F.col("zoom") >= 0)
    assert tile_lookup(derived, 12, t.x, t.y).collect() == tile_lookup(view, 12, t.x, t.y).collect()

    # the served frame is driver-local: no file scan, and collecting it
    # submits no Spark job (the predicate path, as a control, does)
    hit = tile_lookup(served, 12, t.x, t.y)
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Scan parquet" not in plan and "FileScan" not in plan
    sc = spark.sparkContext
    try:
        sc.setJobGroup("pvt-served-lookup", "served lookups")
        assert len(hit.select("zoom", "tile_h", "payload").collect()) == 1
        assert tile_lookup(served, 11, odd.x, odd.y).collect() == []
        sc.setJobGroup("pvt-predicate-lookup", "predicate lookups")
        assert len(tile_lookup(view, 12, t.x, t.y).collect()) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30  # job events reach the tracker asynchronously
    while not tracker.getJobIdsForGroup("pvt-predicate-lookup") and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("pvt-predicate-lookup")
    assert tracker.getJobIdsForGroup("pvt-served-lookup") == []
