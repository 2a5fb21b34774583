"""Raster<->vector consistency: payload rasterization == direct feature
rasterization; polygon raster coverage contains its member points."""

import numpy as np
from pyspark.sql import functions as F

from pvt_spark.operators.raster import (
    raster_mismatches,
    rasterize_features,
    rasterize_payloads,
    rasterize_polygon_rings,
)
from pvt_spark.plans.pipeline import BuildConfig, build_planet
from pvt_spark.sources.pages import synthesize_pages


def test_payload_raster_equals_feature_raster(spark, tmp_path):
    planet = str(tmp_path / "planet")
    pages = synthesize_pages(spark, 400, seed=42, partitions=4)
    out = build_planet(spark, pages, planet, BuildConfig(leaf_zoom=12))

    a = rasterize_payloads(out["tiles"])
    rf = out["content"].select(
        "zoom", "tile_h", F.explode("layers").alias("layer"), "gx", "gy"
    )
    b = rasterize_features(rf)
    assert raster_mismatches(a, b).count() == 0
    assert a.count() > 100  # non-trivial grids


def test_polygon_raster_covers_member_points():
    from pvt_spark import hilbert as hb

    # rectangle in dm7 -> location space; rasterize on its z12 home tile
    lon = np.array([-1220300000, -1220250000, -1220250000, -1220300000, -1220300000])
    lat = np.array([370480000, 370480000, 370510000, 370510000, 370480000])
    x, y = hb.lonlat_to_xy(lon, lat)
    ring = np.stack([x.astype(np.float64), y.astype(np.float64)], axis=1)
    h = hb.lonlat_to_h(np.array([-1220279745]), np.array([370491457]))
    tile_h = int(hb.h_to_zoom_h(h, 12)[0])
    cells = rasterize_polygon_rings([ring], 12, tile_h, bits=6)
    assert cells  # polygon overlaps the tile
    # the Cavallero point is inside the rectangle: its cell must be covered
    px, py = hb.lonlat_to_xy(np.array([-1220279745]), np.array([370491457]))
    tx, ty = hb.h2xy(np.array([tile_h], np.uint64), 12)
    x0, y0 = int(tx[0]) << 20, int(ty[0]) << 20
    extent = 0xFFFFFFFF >> 12
    g = 64
    cx = int((int(px[0]) - x0) * g // extent)
    cy = int((int(py[0]) - y0) * g // extent)
    assert (cy * g + cx) in cells
