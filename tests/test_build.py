"""Full build + resume test on a small synthetic pages table."""

import json
import os

from pyspark.sql import functions as F

from pvt_spark.functions.pvt_codec import decode_tile
from pvt_spark.plans.pipeline import BuildConfig, build_planet
from pvt_spark.sources.pages import synthesize_pages


def test_build_planet_end_to_end(spark, tmp_path):
    planet = str(tmp_path / "planet")
    pages = synthesize_pages(spark, 300, seed=42, partitions=4)
    out = build_planet(spark, pages, planet, BuildConfig(leaf_zoom=12))

    n_points = out["points"].count()
    assert n_points > 100
    assert out["points_sorted"].count() == n_points

    # tree root counts every point
    root = out["tree"].where(F.col("zoom") == 0).collect()
    assert len(root) == 1 and root[0].n_count == n_points

    # content zooms are even, <= leaf
    zooms = {r.zoom for r in out["content"].select("zoom").distinct().collect()}
    assert zooms and all(z % 2 == 0 and z <= 12 for z in zooms)

    # leaf-zoom content includes EVERY tagged feature (no_rule fallback)
    leaf_content = out["content"].where(F.col("zoom") == 12).count()
    assert leaf_content == n_points

    # tiles decode and agree with the content index
    tiles = out["tiles"].collect()
    assert tiles
    by_key = {(t.zoom, t.tile_h): t for t in tiles}
    sample = out["content"].groupBy("zoom", "tile_h").count().limit(20).collect()
    for r in sample:
        t = by_key[(r.zoom, r.tile_h)]
        decoded = decode_tile(bytes(t.payload))
        assert decoded["zoom"] == r.zoom and decoded["tile_h"] == r.tile_h
        n_feats = sum(len(l["features"]) for l in decoded["layers"])
        assert n_feats == t.feature_count

    # lineage sidecars exist with row counts
    lin_path = os.path.join(planet, "points_sorted", "_lineage.json")
    with open(lin_path) as f:
        lin = json.load(f)
    assert lin["row_count"] == n_points and lin["partitions"]

    # tile manifest row count == distinct (zoom, tile_h) of content
    assert (
        out["tile_manifest"].count()
        == out["content"].select("zoom", "tile_h").distinct().count()
    )


def test_build_resume_skips_completed_stages(spark, tmp_path):
    planet = str(tmp_path / "planet")
    pages = synthesize_pages(spark, 120, seed=7, partitions=2)
    cfg = BuildConfig(leaf_zoom=10)
    first = build_planet(spark, pages, planet, cfg)
    mtime = os.path.getmtime(os.path.join(planet, "points_sorted", "_lineage.json"))
    again = build_planet(spark, pages, planet, cfg)
    assert os.path.getmtime(os.path.join(planet, "points_sorted", "_lineage.json")) == mtime
    assert again["points"].count() == first["points"].count()

    # changing config fingerprint forces recompute
    cfg2 = BuildConfig(leaf_zoom=12)
    build_planet(spark, pages, planet, cfg2)
    assert os.path.getmtime(os.path.join(planet, "points_sorted", "_lineage.json")) > mtime


def _sidecar(planet, stage):
    with open(os.path.join(planet, stage, "_lineage.json")) as f:
        return json.load(f)


def _tile_md5(df):
    return {
        (r.zoom, r.tile_h): r.m
        for r in df.select("zoom", "tile_h", F.md5("payload").alias("m")).collect()
    }


STAGES = ["points_sorted", "tile_tree", "content", "tiles", "tile_manifest", "zoom_metrics"]


def test_build_recomputes_when_pages_input_changes(spark, tmp_path):
    """The resume key covers the pages' files (path, size, mtime_ns) and
    every upstream stage's key: rewriting the pages parquet with other
    rows recomputes points_sorted and everything downstream, and the
    tiles equal a fresh build over the new pages."""
    cfg = BuildConfig(leaf_zoom=10)
    pages_path = str(tmp_path / "pages")
    planet = str(tmp_path / "planet")
    synthesize_pages(spark, 120, seed=7, partitions=2).write.parquet(pages_path)
    build_planet(spark, spark.read.parquet(pages_path), planet, cfg)
    before = {st: _sidecar(planet, st) for st in STAGES}
    assert before["points_sorted"]["config"] == cfg.fingerprint()

    synthesize_pages(spark, 90, seed=8, partitions=2).write.mode("overwrite").parquet(
        pages_path
    )
    pages = spark.read.parquet(pages_path)
    out = build_planet(spark, pages, planet, cfg)
    after = {st: _sidecar(planet, st) for st in STAGES}
    for st in STAGES:
        assert after[st]["fingerprint"] != before[st]["fingerprint"], st
        assert after[st]["config"] == before[st]["config"], st

    fresh = build_planet(spark, pages, str(tmp_path / "fresh"), cfg)
    assert _tile_md5(out["tiles"]) == _tile_md5(fresh["tiles"]) and _tile_md5(
        fresh["tiles"]
    )
    assert after["points_sorted"]["row_count"] == fresh["points_sorted"].count()


def test_build_recomputes_stage_with_torn_lineage(spark, tmp_path):
    """A truncated ``_lineage.json`` is no commit record: its stage
    recomputes (and commits a whole sidecar); other stages resume."""
    planet = str(tmp_path / "planet")
    pages = synthesize_pages(spark, 120, seed=7, partitions=2)
    cfg = BuildConfig(leaf_zoom=10)
    build_planet(spark, pages, planet, cfg)
    lin = os.path.join(planet, "tile_tree", "_lineage.json")
    with open(lin) as f:
        text = f.read()
    with open(lin, "w") as f:
        f.write(text[: len(text) // 2])
    untouched = os.stat(os.path.join(planet, "content", "_lineage.json")).st_mtime_ns

    out = build_planet(spark, pages, planet, cfg)
    tree = _sidecar(planet, "tile_tree")
    assert tree["fingerprint"] == json.loads(text)["fingerprint"]
    assert tree["row_count"] == out["tree"].count() > 0
    assert os.stat(os.path.join(planet, "content", "_lineage.json")).st_mtime_ns == untouched


def test_build_recomputes_stage_with_data_but_no_lineage(spark, tmp_path):
    """Crash point between a stage's data write and its sidecar write:
    the data alone does not count as committed, so the stage recomputes."""
    planet = str(tmp_path / "planet")
    pages = synthesize_pages(spark, 120, seed=7, partitions=2)
    cfg = BuildConfig(leaf_zoom=10)
    first = build_planet(spark, pages, planet, cfg)
    n_points = first["points_sorted"].count()
    lin = os.path.join(planet, "points_sorted", "_lineage.json")
    os.remove(lin)

    out = build_planet(spark, pages, planet, cfg)
    assert os.path.exists(lin)  # only a recompute writes the sidecar
    assert _sidecar(planet, "points_sorted")["row_count"] == n_points
    assert out["points_sorted"].count() == n_points
