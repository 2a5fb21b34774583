"""Multi-point features through the generic compose path:
way h-assignment -> rules -> content -> compose_tiles (arrays + DP) ->
payload decode with line/ring geometry round-trip."""

import numpy as np
from pyspark.sql import functions as F

from pvt_spark import hilbert as hb
from pvt_spark.functions.geo import grid_x, grid_y
from pvt_spark.functions.pvt_codec import decode_tile
from pvt_spark.manifest import DEFAULT_MANIFEST, compile_rules
from pvt_spark.operators.compose import compose_tiles
from pvt_spark.operators.content import render_content
from pvt_spark.operators.feature_h import assign_way_h
from pvt_spark.operators.rules import include_tags
from pvt_spark.sources.fixtures import minicruz


def test_ways_end_to_end_compose(spark):
    pts, ways, _rels = minicruz(spark, n_points=3000, n_ways=150, n_relations=5)
    ways_h = assign_way_h(ways, pts)
    assert ways_h.where(F.col("h").isNull()).count() == 0

    # resolve way geometry: ordered ref coords as arrays
    way_nodes = (
        ways_h.select("feature_id", "h", "tag_key", "tag_value", F.posexplode("refs").alias("pos", "ref_id"))
        .join(
            pts.select(F.col("feature_id").alias("ref_id"), "lon_dm7", "lat_dm7"),
            "ref_id",
        )
        .withColumn("gx", grid_x(F.col("lon_dm7")))
        .withColumn("gy", grid_y(F.col("lat_dm7")))
    )
    geom = (
        way_nodes.groupBy("feature_id", "h", "tag_key", "tag_value")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "gx", "gy"))).alias("pts_sorted")
        )
        .select(
            "feature_id",
            "h",
            F.map_from_arrays(F.array("tag_key"), F.array("tag_value")).alias("tags"),
            F.expr("transform(pts_sorted, p -> p.gx)").alias("geom_x"),
            F.expr("transform(pts_sorted, p -> p.gy)").alias("geom_y"),
        )
    )

    compiled = compile_rules(DEFAULT_MANIFEST)
    content = render_content(
        geom, DEFAULT_MANIFEST, compiled, carry_cols=["geom_x", "geom_y"]
    )
    evals_df = spark.createDataFrame(
        [(i, e[4], e[5]) for i, e in enumerate(compiled.evals)],
        "eval_i int, include_kind string, include_keys array<string>",
    )
    feats = (
        content.join(F.broadcast(evals_df), "eval_i", "left")
        .join(geom.select("feature_id", "tags"), "feature_id")
    )
    feats = include_tags(feats, all_tags=True)
    rf = feats.select(
        "zoom",
        "tile_h",
        "feature_id",
        "h",
        F.explode("layers").alias("layer"),
        "out_tags",
        "geom_x",
        "geom_y",
    )
    tiles = compose_tiles(rf, ["no_rule"] + DEFAULT_MANIFEST.layer_order)
    rows = tiles.collect()
    assert rows

    # decode: geometry is multi-point; closed rings stay closed post-DP
    n_lines = n_rings = 0
    for t in rows:
        decoded = decode_tile(bytes(t.payload))
        for layer in decoded["layers"]:
            for f in layer["features"]:
                for gx, gy in f["geoms"]:
                    if len(gx) >= 2:
                        if gx[0] == gx[-1] and gy[0] == gy[-1] and len(gx) >= 4:
                            n_rings += 1
                        else:
                            n_lines += 1
    assert n_lines > 0 and n_rings > 0

    # feature counts conserved: content rows (x layers) == payload features
    expected = rf.count()
    got = sum(t.feature_count for t in rows)
    assert got == expected


def test_way_h_is_inside_geometry_bbox(spark):
    pts, ways, _ = minicruz(spark, n_points=2000, n_ways=80, n_relations=5)
    ways_h = assign_way_h(ways, pts)
    rows = (
        ways_h.select("feature_id", "h", F.explode("refs").alias("ref_id"))
        .join(pts.select(F.col("feature_id").alias("ref_id"), "lon_dm7", "lat_dm7"), "ref_id")
        .groupBy("feature_id", "h")
        .agg(
            F.min("lon_dm7").alias("lon_min"),
            F.max("lon_dm7").alias("lon_max"),
            F.min("lat_dm7").alias("lat_min"),
            F.max("lat_dm7").alias("lat_max"),
        )
        .collect()
    )
    ok = 0
    for r in rows:
        lon, lat = hb.h_to_lonlat(hb.signed_to_h(np.array([r.h])))
        if r.lon_min - 1000 <= lon[0] <= r.lon_max + 1000 and r.lat_min - 1000 <= lat[0] <= r.lat_max + 1000:
            ok += 1
    # interior points (and first/median-ref fallbacks) lie in the bbox
    assert ok == len(rows)
