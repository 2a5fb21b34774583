"""Mixed build: ways/relations through the staged build_planet pipeline
(reference compose.rs:41-349 + leaf.rs:214-380 end-to-end analog)."""

import os
import tempfile

from pyspark.sql import functions as F

from pvt_spark.functions.pvt_codec import decode_tile
from pvt_spark.plans.pipeline import BuildConfig, build_planet
from pvt_spark.sources.pages import synthesize_pages


def _build(spark, tmp, n_pages=4000):
    pages = synthesize_pages(spark, n_pages, seed=42)
    cfg = BuildConfig(leaf_zoom=12, synth_ways=60, synth_relations=8)
    return build_planet(spark, pages, os.path.join(tmp, "planet"), cfg), cfg


def test_mixed_build_end_to_end(spark):
    with tempfile.TemporaryDirectory() as tmp:
        out, cfg = _build(spark, tmp)

        # multi-point stages materialized, every way/relation has an h
        wf = out["way_features"]
        assert wf.count() > 0
        assert wf.where(F.col("h").isNull()).count() == 0
        assert wf.where(F.size("geom_x") != F.size("geom_y")).count() == 0
        # default relation geometry is now "rings": one row per assembled
        # ring/line (or the mean-h point fallback), x/y-consistent
        rf = out["relation_features"]
        assert rf.count() > 0
        assert rf.where(F.size("geom_x") != F.size("geom_y")).count() == 0
        n_rels = rf.select("feature_id").distinct().count()

        # leaf counts pivot per entity class (reference n/w/r leaf columns)
        leaves = out["leaves"]
        for c in ("n_count", "w_count", "r_count"):
            assert c in leaves.columns
        assert leaves.agg(F.sum("w_count")).first()[0] == wf.count()
        # r_count counts relations once, not once per ring
        assert leaves.agg(F.sum("r_count")).first()[0] == n_rels

        # externals: at least one way enters a leaf beyond its home leaf
        ext = out["external"]
        assert ext.count() > 0

        # content_mp stores tile-local DP-simplified int16 geometry
        # (projected BEFORE the write — pipeline v3)
        cmp_ = out["content_mp"]
        dt = dict(cmp_.dtypes)
        assert dt["geom_x"] == "array<smallint>"
        assert dt["geom_y"] == "array<smallint>"

        # content_mp contains external leaf rows: same feature at leaf
        # zoom under MORE tiles than its home tile alone
        multi = (
            cmp_.where(F.col("zoom") == cfg.leaf_zoom)
            .groupBy("feature_id")
            .agg(F.countDistinct("tile_h").alias("n_tiles"))
            .where(F.col("n_tiles") > 1)
        )
        assert multi.count() > 0

        # tiles decode; line AND ring geometry present in payloads
        tiles = out["tiles"]
        n_lines = n_rings = n_points = 0
        for t in tiles.collect():
            decoded = decode_tile(bytes(t.payload))
            for layer in decoded["layers"]:
                for f in layer["features"]:
                    for gx, gy in f["geoms"]:
                        if len(gx) == 1:
                            n_points += 1
                        elif len(gx) >= 4 and gx[0] == gx[-1] and gy[0] == gy[-1]:
                            n_rings += 1
                        else:
                            n_lines += 1
        assert n_points > 0 and n_lines > 0 and n_rings > 0

        # conservation: payload features == point rf rows + mp rf rows
        from pvt_spark.manifest import compile_rules
        from pvt_spark.plans.pipeline import _render_features

        compiled = compile_rules(cfg.manifest)
        expected = (
            _render_features(spark, out["content"], compiled, cfg).count()
            + _render_features(spark, out["content_mp"], compiled, cfg).count()
        )
        got = tiles.agg(F.sum("feature_count")).first()[0]
        assert got == expected


def test_mixed_build_resumes(spark):
    with tempfile.TemporaryDirectory() as tmp:
        out1, _ = _build(spark, tmp, n_pages=1500)
        t1 = out1["tiles"].agg(F.sum("feature_count")).first()[0]
        out2, _ = _build(spark, tmp, n_pages=1500)  # all stages complete
        t2 = out2["tiles"].agg(F.sum("feature_count")).first()[0]
        assert t1 == t2
        lineage = os.path.join(tmp, "planet", "way_features", "_lineage.json")
        assert os.path.exists(lineage)


def test_relation_ring_geometry_multipolygon(spark):
    """A multipolygon relation assembles member ways into winding-
    normalized rings: two open ways stitch into the outer square
    (positive P15 area = CW in y-down grid space), a closed member way
    inside it becomes the hole (negative area), and an unconnected open
    member renders as a line."""
    import numpy as np

    from pvt_spark.functions.client import signed_ring_area
    from pvt_spark.operators.feature_h import relation_ring_geometry

    ways = spark.createDataFrame(
        [
            (1, [0, 100, 100], [0, 0, 100]),            # outer half A
            (2, [100, 0, 0], [100, 100, 0]),            # outer half B
            (3, [40, 60, 60, 40, 40], [40, 40, 60, 60, 40]),  # hole (closed)
            (4, [500, 600], [500, 600]),                # dangling line
        ],
        "feature_id long, geom_x array<long>, geom_y array<long>",
    )
    rels = spark.createDataFrame(
        [
            (
                10,
                [("w", 1), ("w", 2), ("w", 3), ("w", 4)],
                {"place": "region"},
                777,
            ),
            (11, [("n", 99)], {"place": "region"}, 888),  # no way members
        ],
        "feature_id long, members array<struct<etype string, ref long>>, "
        "tags map<string,string>, h long",
    )
    out = relation_ring_geometry(rels, ways).collect()
    by_rel = {}
    for r in out:
        by_rel.setdefault(r.feature_id, []).append(
            (np.array(r.geom_x), np.array(r.geom_y))
        )
    geoms = by_rel[10]
    def _closed(gx, gy):
        return len(gx) >= 4 and gx[0] == gx[-1] and gy[0] == gy[-1]

    rings = [(gx, gy) for gx, gy in geoms if _closed(gx, gy)]
    lines = [(gx, gy) for gx, gy in geoms if not _closed(gx, gy) and len(gx) > 1]
    assert len(rings) == 2 and len(lines) == 1
    areas = sorted(signed_ring_area(gx, gy) for gx, gy in rings)
    assert areas[0] == -400.0 and areas[1] == 10000.0  # hole CW-neg, outer pos
    # relation with no way members falls back to the mean-h point
    assert len(by_rel[11]) == 1 and len(by_rel[11][0][0]) == 1


def test_default_build_assembles_rings_and_point_mode_opts_out(spark):
    """The DEFAULT build (relation_geometry='rings') assembles real
    multi-point relation geometry; relation_geometry='point' is the
    documented reference-parity opt-out rendering each relation at its
    mean-h location."""
    with tempfile.TemporaryDirectory() as tmp:
        pages = synthesize_pages(spark, 4000, seed=42)
        cfg = BuildConfig(leaf_zoom=12, synth_ways=60, synth_relations=8)
        assert cfg.relation_geometry == "rings"
        out = build_planet(spark, pages, os.path.join(tmp, "planet"), cfg)
        rf = out["relation_features"]
        n_rels = rf.select("feature_id").distinct().count()
        assert n_rels == 8
        # at least one relation assembled real (multi-point) geometry
        assert rf.where(F.size("geom_x") > 1).count() > 0

        cfg_pt = BuildConfig(
            leaf_zoom=12, synth_ways=60, synth_relations=8,
            relation_geometry="point",
        )
        out_pt = build_planet(spark, pages, os.path.join(tmp, "planet_pt"), cfg_pt)
        rf_pt = out_pt["relation_features"]
        assert rf_pt.where(F.size("geom_x") != 1).count() == 0
        assert rf_pt.count() == rf_pt.select("feature_id").distinct().count()
        leaves = out_pt["leaves"]
        assert leaves.agg(F.sum("r_count")).first()[0] == rf_pt.count()


def test_mixed_compose_merge_is_coalesced(spark):
    """The mixed compose's phase-2 merge is a plain repartition(zoom,
    tile_h): AQE reads it coalesced instead of at a fixed width."""
    import re

    from pvt_spark.manifest import compile_rules
    from pvt_spark.plans.pipeline import compose_planet_tiles

    with tempfile.TemporaryDirectory() as tmp:
        cfg = BuildConfig(synth_ways=25)
        pages = synthesize_pages(spark, 300, seed=3)
        out = build_planet(spark, pages, os.path.join(tmp, "planet"), cfg)
        tiles = compose_planet_tiles(
            out["content"], out["content_mp"], compile_rules(cfg.manifest), cfg
        )
        assert tiles.collect()
        plan = tiles._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert re.search(
        r"AQEShuffleRead coalesced\n\s*\+- ShuffleQueryStage \d+\n\s*"
        r"\+- Exchange hashpartitioning\(zoom#\d+, tile_h#\d+L, \d+\), "
        r"REPARTITION_BY_COL",
        plan,
    ), plan
