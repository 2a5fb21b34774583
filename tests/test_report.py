"""Per-tile YAML report sink (reference src/report.rs + src/pvt_yaml.rs)."""

import os
import tempfile

import yaml
from pyspark.sql import functions as F

from pvt_spark.functions.geo import grid_x, grid_y
from pvt_spark.functions.pvt_codec import decode_tile
from pvt_spark.manifest import DEFAULT_MANIFEST, compile_rules, manifest_from_dict
from pvt_spark.operators.compose import compose_tiles
from pvt_spark.operators.content import render_content
from pvt_spark.operators.report import ReportOptions, generate_report, parse_options
from pvt_spark.operators.rules import include_tags
from pvt_spark.sources.fixtures import minicruz


def _tiles(spark):
    pts, _, _ = minicruz(spark, n_points=1200, n_ways=0, n_relations=0)
    feats = pts.select(
        "feature_id",
        "h",
        F.map_from_arrays(F.array("tag_key"), F.array("tag_value")).alias("tags"),
        F.array(grid_x(F.col("lon_dm7"))).alias("geom_x"),
        F.array(grid_y(F.col("lat_dm7"))).alias("geom_y"),
    )
    compiled = compile_rules(DEFAULT_MANIFEST)
    content = render_content(
        feats, DEFAULT_MANIFEST, compiled, carry_cols=["tags", "geom_x", "geom_y"]
    )
    evals_df = spark.createDataFrame(
        [(i, e[4], e[5]) for i, e in enumerate(compiled.evals)],
        "eval_i int, include_kind string, include_keys array<string>",
    )
    rf = include_tags(
        content.join(F.broadcast(evals_df), "eval_i", "left"), all_tags=True
    ).select(
        "zoom",
        "tile_h",
        "feature_id",
        "h",
        F.explode("layers").alias("layer"),
        "out_tags",
        "geom_x",
        "geom_y",
    )
    return compose_tiles(rf, ["no_rule"] + DEFAULT_MANIFEST.layer_order)


def test_report_all_leaves_and_include_selection(spark):
    tiles = _tiles(spark).persist()
    leaf_rows = tiles.where(F.col("zoom") == 12).collect()
    with tempfile.TemporaryDirectory() as tmp:
        # all leaves
        path = generate_report(tiles, tmp, leaf_zoom=12)
        docs = list(yaml.safe_load_all(open(path)))
        assert len(docs) == len(leaf_rows)
        by_h = {r.tile_h: r for r in leaf_rows}
        for d in docs:
            h = int(d["tile"].split("h")[-1])
            r = by_h[h]
            decoded = decode_tile(bytes(r.payload))
            assert len(d["layers"]) == r.layer_count
            got_feats = sum(len(layer["features"]) for layer in d["layers"])
            assert got_feats == r.feature_count
            # first feature matches the decoded payload exactly
            f0 = d["layers"][0]["features"][0]
            p0 = decoded["layers"][0]["features"][0]
            assert f0["id"] == str(p0["id"])
            assert f0["keys"] == p0["keys"] and f0["values"] == p0["values"]
            assert d["size"].endswith(("K", "M"))

        # include_leaves selection + payload dump (reference
        # src/report.rs:53-74 sorted/dedup semantics)
        wanted = [leaf_rows[0].tile_h, leaf_rows[-1].tile_h, leaf_rows[0].tile_h]
        path2 = generate_report(
            tiles,
            tmp,
            leaf_zoom=12,
            include_leaves=wanted,
            options=ReportOptions(write_fb_tiles=True, include_geometries=True),
        )
        docs2 = list(yaml.safe_load_all(open(path2)))
        assert len(docs2) == len(set(wanted))
        for h in set(wanted):
            assert os.path.exists(os.path.join(tmp, "tiles", f"12_{h}.pvt"))
        # geometry included and tile-local int pairs
        g = docs2[0]["layers"][0]["features"][0]["geometries"]
        assert g and all(len(p) == 2 for p in g[0])

        # index mode: keys/values as string-table indexes + table included
        path3 = generate_report(
            tiles,
            tmp,
            leaf_zoom=12,
            include_leaves=[leaf_rows[0].tile_h],
            options=ReportOptions(
                lookup_strings_and_values=False, include_strings=True
            ),
        )
        (d3,) = list(yaml.safe_load_all(open(path3)))
        strings = d3["strings"]
        f = d3["layers"][0]["features"][0]
        decoded = decode_tile(bytes(by_h[leaf_rows[0].tile_h].payload))
        p = decoded["layers"][0]["features"][0]
        assert [strings[i] for i in f["keys"]] == p["keys"]
        assert [strings[i] for i in f["values"]] == p["values"]
        assert strings[d3["layers"][0]["name"]] == decoded["layers"][0]["name"]
    tiles.unpersist()


def test_report_options_from_manifest(spark):
    m = manifest_from_dict(
        {
            "render": {"leaf_zoom": 12, "layer_order": ["Places"]},
            "layers": {"Places": ["place"]},
            "rules": {"place": {"minzoom": 4, "keys": ["place"]}},
            "data": {"include_leaves": [42, 7, 42]},
            "report_options": ["write_fb_tiles", "include_geometries", "bogus"],
        }
    )
    assert m.include_leaves == [42, 7, 42]
    opts = parse_options(m.report_options)
    assert opts.write_fb_tiles and opts.include_geometries
    assert opts.lookup_strings_and_values  # default preserved; bogus ignored
