"""The Info debug source: tile boundary/center features with zero data
dependencies (reference src/info.rs:29-275).

The reference's Info source contributes Boundaries / Centers / Bearing
layers for the pyramid of any requested tile; ours generates the same
as a DataFrame for a tile pyramid — a smoke-test source that exercises
tile algebra + composition with no input data, and the second source of
the multi-source union (U2, reference src/lib.rs:88-95).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..tile import Tile, hilbert_bearing
from ..session import local_frame

BOUNDARY = [(0, 0), (8191, 0), (8191, 8191), (0, 8191), (0, 0)]


def info_features(
    spark: SparkSession, z: int, x: int, y: int, grandchild_levels: int = 1, max_zoom: int = 14
) -> DataFrame:
    """Boundary + center features for the pyramid of tile (z, x, y).

    Schema matches the compose input so it unions with data layers:
    (zoom, tile_h, feature_id, h, layer, out_tags, geom_x, geom_y) —
    geometry in tile-local coords is rendered by the client; here we
    emit the tile's own location-space corners so the standard
    projection path (P7) produces the reference's clamped boundaries.
    """
    t = Tile.from_zxy(z, x, y)
    rows = []
    # all pyramid features are composed INTO the requested tile (the
    # reference draws ancestor/descendant boundaries in the tile's own
    # coordinate space and lets projection clamp them, src/info.rs:29-275)
    for pt in t.pyramid(grandchild_levels, max_zoom):
        (ox, oy), (sx, sy) = pt.bbox()
        corners_x = [ox, sx, sx, ox, ox]
        corners_y = [oy, oy, sy, sy, oy]
        cx, cy = pt.center()
        rows.append(
            (
                t.z,
                t.h,
                pt.id(),
                0,
                "tile_boundary",
                {"zoom": str(pt.z), "h": str(pt.h)},
                [int(v) for v in corners_x],
                [int(v) for v in corners_y],
            )
        )
        rows.append(
            (
                t.z,
                t.h,
                pt.id() + 1,
                0,
                "tile_center",
                {"zoom": str(pt.z), "h": str(pt.h)},
                [int(cx)],
                [int(cy)],
            )
        )
        # Hilbert-bearing arrow (P9, reference src/info.rs:29-275 +
        # src/tile.rs:336-420): polyline entry-edge midpoint -> center
        # -> exit-edge midpoint showing how the curve crosses the tile
        bearing = hilbert_bearing(pt)
        if bearing is not None:
            edge_mid = {
                "N": (cx, oy),
                "S": (cx, sy),
                "W": (ox, cy),
                "E": (sx, cy),
            }
            ex, ey = edge_mid[bearing[0]]
            xx, xy = edge_mid[bearing[1]]
            rows.append(
                (
                    t.z,
                    t.h,
                    pt.id() + 2,
                    0,
                    "tile_bearing",
                    {"zoom": str(pt.z), "h": str(pt.h), "bearing": bearing},
                    [int(ex), int(cx), int(xx)],
                    [int(ey), int(cy), int(xy)],
                )
            )
    return local_frame(
        spark,
        rows,
        "zoom int, tile_h long, feature_id long, h long, layer string, "
        "out_tags map<string,string>, geom_x array<long>, geom_y array<long>",
    )


def union_sources(*sources: DataFrame) -> DataFrame:
    """U2: combine layers from several sources into one compose input."""
    from functools import reduce

    return reduce(DataFrame.unionByName, sources)
