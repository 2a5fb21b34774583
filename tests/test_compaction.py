"""Incremental compaction == full rebuild, byte-for-byte.

Base build over P0, then two delta compactions (P1, P2) must produce
md5-identical tile payloads, an identical tree, and an identical
manifest to ONE full build over P0+P1+P2 — and folding the delta
generations back into the base (materialize) must change nothing.
"""

import json
import os
from dataclasses import replace

import numpy as np
import pytest
from pyspark.sql import functions as F

from pvt_spark.operators.serve import open_planet
from pvt_spark.plans.compaction import (
    compact_planet,
    materialize_tiles,
    read_tiles,
)
from pvt_spark.plans.pipeline import BuildConfig, build_planet, overlay, read_table
from pvt_spark.sources.pages import synthesize_pages


FOLD_STEPS = [
    "delta_points", "dirty_set", "points_append", "content_append",
    "tree_merge", "dirty_cluster", "manifest_metrics", "recompose",
]
BUILD_STAGES = [
    "points_sorted", "tile_tree", "content", "tiles", "tile_manifest", "zoom_metrics",
]


def _tile_map(df):
    return {
        (r.zoom, r.tile_h): (r.m, r.feature_count, r.layer_count)
        for r in df.select(
            "zoom",
            "tile_h",
            F.md5(F.col("payload")).alias("m"),
            "feature_count",
            "layer_count",
        ).collect()
    }


def _rows(df):
    cols = sorted(df.columns)
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


def test_compaction_equals_full_rebuild(spark, tmp_path):
    cfg = BuildConfig()
    p0 = synthesize_pages(spark, 150, seed=1, partitions=2)
    d1 = synthesize_pages(spark, 60, seed=2, partitions=1)
    d2 = synthesize_pages(spark, 40, seed=3, partitions=1)
    inc_dir = str(tmp_path / "inc")
    full_dir = str(tmp_path / "full")

    build_planet(spark, p0, inc_dir, cfg)
    s1 = compact_planet(spark, inc_dir, d1, cfg)
    s2 = compact_planet(spark, inc_dir, d2, cfg)
    assert s1["gen"] == 1 and s2["gen"] == 2
    assert s1["dirty_tiles"] > 0 and s1["delta_rows"] > 0

    build_planet(
        spark, p0.unionByName(d1).unionByName(d2), full_dir, cfg
    )

    full_tiles = _tile_map(spark.read.parquet(full_dir + "/tiles"))
    inc_tiles = _tile_map(read_tiles(spark, inc_dir))
    assert inc_tiles == full_tiles and full_tiles

    # compaction only rebuilt the dirty subset, not the world
    n_recomposed = sum(
        1
        for _ in spark.read.parquet(inc_dir + "/tiles_delta/gen=1").collect()
    )
    assert 0 < n_recomposed < len(full_tiles)

    full_tree = _rows(spark.read.parquet(full_dir + "/tile_tree"))
    assert _rows(read_table(spark, inc_dir, "tile_tree")) == full_tree
    assert _rows(spark.read.parquet(inc_dir + "/tile_manifest")) == _rows(
        spark.read.parquet(full_dir + "/tile_manifest")
    )
    assert _rows(spark.read.parquet(inc_dir + "/zoom_metrics")) == _rows(
        spark.read.parquet(full_dir + "/zoom_metrics")
    )
    # appended points match the full build's point set exactly
    keys = ["feature_id", "h"]
    assert _rows(spark.read.parquet(inc_dir + "/points_sorted").select(*keys)) == _rows(
        spark.read.parquet(full_dir + "/points_sorted").select(*keys)
    )

    # the run records the benchmark reads per layer: each fold record
    # carries exactly the fold step names (perfbench/layers.py
    # FOLD_STEPS) and every build stage's sidecar keeps its wall_sec
    with open(os.path.join(inc_dir, "_compaction.json")) as f:
        log = json.load(f)
    assert [sorted(r["steps"]) for r in log] == [sorted(FOLD_STEPS)] * 2
    stages = [
        st for st in os.listdir(inc_dir)
        if os.path.exists(os.path.join(inc_dir, st, "_lineage.json"))
    ]
    assert sorted(stages) == sorted(BUILD_STAGES)
    for st in stages:
        with open(os.path.join(inc_dir, st, "_lineage.json")) as f:
            assert isinstance(json.load(f)["wall_sec"], float), st

    # serve path resolves through the generation view pre-materialize
    opened = open_planet(spark, inc_dir)
    assert sorted(opened) == ["content", "points_sorted", "tile_tree", "tiles"]
    assert _tile_map(opened["tiles"]) == full_tiles
    assert _rows(opened["tile_tree"]) == full_tree

    # major compaction folds generations, payloads unchanged
    assert materialize_tiles(spark, inc_dir) == 2
    assert _tile_map(spark.read.parquet(inc_dir + "/tiles")) == full_tiles
    assert _rows(spark.read.parquet(inc_dir + "/tile_tree")) == full_tree
    assert not any(d.endswith("_delta") for d in os.listdir(inc_dir))
    assert materialize_tiles(spark, inc_dir) == 0


def test_compaction_empty_delta_writes_no_generation(spark, tmp_path):
    """A delta whose pages mention no place folds nothing: it logs its
    summary (delta_rows 0) and writes no tiles_delta generation, so
    read_tiles still opens the planet and serves the same tiles."""
    cfg = BuildConfig()
    planet = str(tmp_path / "p")
    build_planet(spark, synthesize_pages(spark, 120, seed=1, partitions=2), planet, cfg)
    before = _tile_map(read_tiles(spark, planet))
    no_mentions = synthesize_pages(
        spark, 20, seed=2, partitions=1, start=10_000
    ).withColumn("html", F.lit(bytearray(b"<html><body><p>no places</p></body></html>")))

    s = compact_planet(spark, planet, no_mentions, cfg, stream_batch_id=7)
    assert s["delta_rows"] == 0 and s["dirty_tiles"] == 0 and s["gen"] is None
    assert not os.path.exists(os.path.join(planet, "tiles_delta"))
    with open(os.path.join(planet, "_compaction.json")) as f:
        last = json.load(f)[-1]
    assert last["delta_rows"] == 0 and last["stream_batch_id"] == 7
    assert _tile_map(read_tiles(spark, planet)) == before and before


def test_compaction_rejects_config_mismatch(spark, tmp_path):
    import pytest

    cfg = BuildConfig()
    p0 = synthesize_pages(spark, 50, seed=4, partitions=1)
    d = synthesize_pages(spark, 10, seed=5, partitions=1)
    planet = str(tmp_path / "p")
    build_planet(spark, p0, planet, cfg)
    other = BuildConfig(leaf_zoom=10)
    with pytest.raises(ValueError, match="fingerprint"):
        compact_planet(spark, planet, d, other)
    # a rule's body, not only its name, is part of the build's config
    rules = dict(cfg.manifest.rules, amenity=replace(cfg.manifest.rules["amenity"], minzoom=12))
    other = BuildConfig(manifest=replace(cfg.manifest, rules=rules))
    with pytest.raises(ValueError, match="fingerprint"):
        compact_planet(spark, planet, d, other)


def test_fingerprint_covers_rules_layers_and_tag_options():
    base = BuildConfig()
    m = base.manifest
    variants = [
        replace(base, tags_from_url=False),
        replace(base, manifest=replace(m, all_tags=not m.all_tags)),
        replace(base, manifest=replace(m, layers={**m.layers, "Places": []})),
    ]
    for name, field_value in [("minzoom", 12), ("maxzoom", 14), ("keys", ["cafe"]),
                              ("include", {"name"})]:
        rule = replace(m.rules["amenity"], **{name: field_value})
        variants.append(
            replace(base, manifest=replace(m, rules=dict(m.rules, amenity=rule)))
        )
    fps = [v.fingerprint() for v in variants]
    assert base.fingerprint() not in fps and len(set(fps)) == len(fps)
    # sets hash by content, whatever their iteration order
    a = replace(m.rules["amenity"], include={"name", "brand", "opening_hours"})
    b = replace(m.rules["amenity"], include={"opening_hours", "name", "brand"})
    assert (
        replace(base, manifest=replace(m, rules=dict(m.rules, amenity=a))).fingerprint()
        == replace(base, manifest=replace(m, rules=dict(m.rules, amenity=b))).fingerprint()
    )


def test_compaction_mixed_planet_point_delta(spark, tmp_path):
    """A page (point) delta folds into a MIXED planet: the dirty
    recompose re-merges the unchanged way geometry chunks with the
    refreshed point chunks — byte-identical to a full mixed rebuild
    over the union (same explicit ways table on both sides; synthesized
    ways would differ because they derive from the point set)."""
    from pvt_spark.operators.geotag import pages_to_points
    from pvt_spark.operators.hilbert_sort import hilbert_sort
    from pvt_spark.plans.compaction import read_tiles
    from pvt_spark.plans.pipeline import _featureize
    from pvt_spark.sources.ways import synthesize_ways

    cfg = BuildConfig()
    p0 = synthesize_pages(spark, 120, seed=6, partitions=1)
    # a NEW crawl batch (disjoint url/id range): way refs resolve by
    # node id, so a re-crawl delta (same urls, new content) would give
    # the full rebuild duplicate nodes per ref while the incremental
    # path keeps the base resolution — disjointness is the documented
    # mixed-compaction contract
    d1 = synthesize_pages(spark, 50, seed=7, partitions=1, start=120)
    pts0 = hilbert_sort(_featureize(pages_to_points(p0), cfg.tags_from_url))
    ways = synthesize_ways(pts0, 25).persist()
    ways.count()

    inc_dir = str(tmp_path / "minc")
    full_dir = str(tmp_path / "mfull")
    build_planet(spark, p0, inc_dir, cfg, ways=ways)
    s = compact_planet(spark, inc_dir, d1, cfg)
    assert s["dirty_tiles"] > 0
    build_planet(spark, p0.unionByName(d1), full_dir, cfg, ways=ways)

    full_tiles = _tile_map(spark.read.parquet(full_dir + "/tiles"))
    assert _tile_map(read_tiles(spark, inc_dir)) == full_tiles and full_tiles
    assert _rows(read_table(spark, inc_dir, "tile_tree")) == _rows(
        spark.read.parquet(full_dir + "/tile_tree")
    )
    assert _rows(spark.read.parquet(inc_dir + "/tile_manifest")) == _rows(
        spark.read.parquet(full_dir + "/tile_manifest")
    )
    ways.unpersist()


def test_compaction_deferred_low_zoom_flush(spark, tmp_path):
    """defer_zoom_below: per-batch recompose skips the always-dirty
    low-zoom overview tiles (stale until flush); flush_deferred folds
    the accumulated set and restores exact equality with a full
    rebuild."""
    from pvt_spark.plans.compaction import flush_deferred

    cfg = BuildConfig()
    p0 = synthesize_pages(spark, 150, seed=81, partitions=2)
    d1 = synthesize_pages(spark, 50, seed=82, partitions=1, start=150)
    d2 = synthesize_pages(spark, 40, seed=83, partitions=1, start=200)
    inc_dir = str(tmp_path / "inc")
    full_dir = str(tmp_path / "full")

    build_planet(spark, p0, inc_dir, cfg)
    base_tiles = _tile_map(spark.read.parquet(inc_dir + "/tiles"))
    s1 = compact_planet(spark, inc_dir, d1, cfg, defer_zoom_below=8)
    s2 = compact_planet(spark, inc_dir, d2, cfg, defer_zoom_below=8)
    assert s1["deferred_tiles"] > 0 and s2["deferred_tiles"] > 0
    # nothing below zoom 8 in the per-batch generations
    for g in (1, 2):
        zooms = {
            r.zoom
            for r in spark.read.parquet(
                f"{inc_dir}/tiles_delta/gen={g}"
            ).select("zoom").distinct().collect()
        }
        assert zooms and min(zooms) >= 8

    build_planet(spark, p0.unionByName(d1).unionByName(d2), full_dir, cfg)
    full_tiles = _tile_map(spark.read.parquet(full_dir + "/tiles"))

    pre = _tile_map(read_tiles(spark, inc_dir))
    hi_pre = {k: v for k, v in pre.items() if k[0] >= 8}
    hi_full = {k: v for k, v in full_tiles.items() if k[0] >= 8}
    assert hi_pre == hi_full
    # low zooms are stale = the base build's payloads
    lo_pre = {k: v for k, v in pre.items() if k[0] < 8}
    assert lo_pre == {k: v for k, v in base_tiles.items() if k[0] < 8}

    n = flush_deferred(spark, inc_dir, cfg)
    # every low-zoom tile key is in the flushed set (the set also holds
    # z0/z2 ancestor keys where the rules render no content, so no tile
    # materializes — key count >= tile count)
    assert n >= len({k for k in full_tiles if k[0] < 8})
    assert _tile_map(read_tiles(spark, inc_dir)) == full_tiles

    # flush is idempotent-empty afterwards; materialize folds everything
    assert flush_deferred(spark, inc_dir, cfg) == 0
    from pvt_spark.plans.compaction import materialize_tiles

    assert materialize_tiles(spark, inc_dir, cfg) == 3
    assert _tile_map(spark.read.parquet(inc_dir + "/tiles")) == full_tiles


def test_compaction_all_deferred_writes_no_generation(spark, tmp_path):
    """A fold that defers every dirty key recomposes nothing: it writes
    no tiles_delta generation (an empty one cannot be read back), logs
    ``gen: None``, keeps serving the base tiles, and the flush then
    equals a cold rebuild."""
    from pvt_spark.plans.compaction import flush_deferred

    cfg = BuildConfig()
    p0 = synthesize_pages(spark, 60, seed=1, partitions=1)
    d1 = synthesize_pages(spark, 30, seed=2, partitions=1, start=60)
    planet = str(tmp_path / "inc")
    build_planet(spark, p0, planet, cfg)
    base = _tile_map(read_tiles(spark, planet))

    s = compact_planet(spark, planet, d1, cfg, defer_zoom_below=14)
    assert s["gen"] is None and s["deferred_tiles"] == s["dirty_tiles"] > 0
    assert not os.path.exists(os.path.join(planet, "tiles_delta"))
    assert _tile_map(read_tiles(spark, planet)) == base
    assert _tile_map(open_planet(spark, planet)["tiles"]) == base

    assert flush_deferred(spark, planet, cfg) == s["dirty_tiles"]
    full = str(tmp_path / "full")
    build_planet(spark, p0.unionByName(d1), full, cfg)
    full_tiles = _tile_map(spark.read.parquet(full + "/tiles"))
    assert _tile_map(read_tiles(spark, planet)) == full_tiles != base


def test_flush_without_point_content_writes_no_generation(spark, tmp_path):
    """Deferred keys at zooms the rules render no point content at (the
    default manifest renders nothing below z4) flush to no generation:
    ``gen: None`` in the log, every reader still opens the planet, and
    the tiles equal a cold rebuild."""
    from pvt_spark.plans.compaction import flush_deferred

    cfg = BuildConfig()
    p0 = synthesize_pages(spark, 60, seed=11, partitions=1)
    d1 = synthesize_pages(spark, 30, seed=12, partitions=1, start=60)
    planet = str(tmp_path / "inc")
    build_planet(spark, p0, planet, cfg)
    s = compact_planet(spark, planet, d1, cfg, defer_zoom_below=4)
    assert s["gen"] == 1 and s["deferred_tiles"] > 0

    assert flush_deferred(spark, planet, cfg) == s["deferred_tiles"]
    assert os.listdir(os.path.join(planet, "tiles_delta")) == ["gen=1"]
    with open(os.path.join(planet, "_compaction.json")) as f:
        last = json.load(f)[-1]
    assert last["flush"] and last["gen"] is None
    full = str(tmp_path / "full")
    build_planet(spark, p0.unionByName(d1), full, cfg)
    full_tiles = _tile_map(spark.read.parquet(full + "/tiles"))
    assert _tile_map(read_tiles(spark, planet)) == full_tiles
    assert _tile_map(open_planet(spark, planet)["tiles"]) == full_tiles
    assert materialize_tiles(spark, planet, cfg) == 1
    assert _tile_map(spark.read.parquet(planet + "/tiles")) == full_tiles


def _files(planet, tables):
    """(table, relative path) -> (size, mtime_ns) of every file under the
    given tables' directories."""
    out = {}
    for t in tables:
        root = os.path.join(planet, t)
        for dirpath, _dirs, names in os.walk(root):
            for n in names:
                st = os.stat(os.path.join(dirpath, n))
                out[t, os.path.relpath(os.path.join(dirpath, n), root)] = (
                    st.st_size, st.st_mtime_ns,
                )
    return out


@pytest.mark.parametrize("mixed", [False, True])
def test_deferred_manifest_fold_rewrites_no_base_table(spark, tmp_path, mixed):
    """A defer_manifest fold writes only generation logs: every file of
    the tiles, tile_tree, tile_manifest and zoom_metrics base tables
    keeps its name, size and mtime, and each logged table gets one
    committed generation."""
    cfg = BuildConfig(synth_ways=20, synth_relations=3) if mixed else BuildConfig()
    planet = str(tmp_path / "p")
    build_planet(spark, synthesize_pages(spark, 80, seed=21, partitions=1), planet, cfg)
    bases = ["tiles", "tile_tree", "tile_manifest", "zoom_metrics"]
    before = _files(planet, bases)
    assert before

    s = compact_planet(
        spark, planet, synthesize_pages(spark, 30, seed=22, partitions=1, start=80),
        cfg, defer_manifest=True,
    )
    assert s["gen"] == 1 and s["dirty_tiles"] > 0
    assert _files(planet, bases) == before
    for t in ("tiles", "tile_tree", "tile_manifest"):
        assert os.path.exists(os.path.join(planet, f"{t}_delta", "gen=1", "_SUCCESS")), t


def test_uncommitted_generation_is_invisible(spark, tmp_path):
    """An interrupted generation write (files under ``_temporary``, or a
    gen dir without ``_SUCCESS``) is invisible to read_tiles, to both
    lookup paths of open_planet and to the tree reader; the next fold
    takes a fresh number and, with materialize_tiles, equals a cold
    rebuild."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pvt_spark.operators.serve import tile_lookup
    from pvt_spark.tile import Tile

    cfg = BuildConfig()
    p0 = synthesize_pages(spark, 60, seed=1, partitions=1)
    d1 = synthesize_pages(spark, 30, seed=2, partitions=1, start=60)
    d2 = synthesize_pages(spark, 30, seed=3, partitions=1, start=90)
    planet = str(tmp_path / "inc")
    build_planet(spark, p0, planet, cfg)
    assert compact_planet(spark, planet, d1, cfg)["gen"] == 1

    def lookups(tiles, keys):
        out = []
        for z, h in keys:
            t = Tile.from_zh(z, h)
            out.append(tile_lookup(tiles, z, t.x, t.y).collect())
        return out

    keys = sorted(_tile_map(read_tiles(spark, planet)))[::7]
    opened = open_planet(spark, planet)
    want = (
        _tile_map(read_tiles(spark, planet)),
        _tile_map(opened["tiles"]),
        lookups(opened["tiles"], keys),
        lookups(read_tiles(spark, planet), keys),
        _rows(read_table(spark, planet, "tile_tree")),
    )

    # what a crash mid-write leaves: task output under _temporary, and a
    # gen dir holding data but no _SUCCESS marker
    src = next(
        os.path.join(dp, n)
        for dp, _d, ns in os.walk(os.path.join(planet, "tiles_delta", "gen=1"))
        for n in ns if n.endswith(".parquet")
    )
    tmp = os.path.join(planet, "tiles_delta", "gen=2", "_temporary", "0")
    os.makedirs(tmp)
    shutil.copy(src, os.path.join(tmp, "part.parquet"))
    tree_gen = os.path.join(planet, "tile_tree_delta", "gen=2")
    os.makedirs(tree_gen)
    rows = read_table(spark, planet, "tile_tree").limit(3).toArrow()
    i = rows.schema.get_field_index("n_count")
    rows = rows.set_column(i, "n_count", pc.multiply(rows.column(i), 1000))
    pq.write_table(rows, os.path.join(tree_gen, "part-0.parquet"))

    opened = open_planet(spark, planet)
    got = (
        _tile_map(read_tiles(spark, planet)),
        _tile_map(opened["tiles"]),
        lookups(opened["tiles"], keys),
        lookups(read_tiles(spark, planet), keys),
        _rows(read_table(spark, planet, "tile_tree")),
    )
    assert got == want

    assert compact_planet(spark, planet, d2, cfg)["gen"] == 3
    full = str(tmp_path / "full")
    build_planet(spark, p0.unionByName(d1).unionByName(d2), full, cfg)
    full_tiles = _tile_map(spark.read.parquet(full + "/tiles"))
    full_tree = _rows(spark.read.parquet(full + "/tile_tree"))
    assert _tile_map(read_tiles(spark, planet)) == full_tiles
    assert _rows(read_table(spark, planet, "tile_tree")) == full_tree
    assert materialize_tiles(spark, planet, cfg) == 2
    assert _tile_map(spark.read.parquet(planet + "/tiles")) == full_tiles
    assert _rows(spark.read.parquet(planet + "/tile_tree")) == full_tree
    for t in ("tile_manifest", "zoom_metrics"):
        assert _rows(spark.read.parquet(f"{planet}/{t}")) == _rows(
            spark.read.parquet(f"{full}/{t}")
        ), t
    assert not any(d.endswith("_delta") for d in os.listdir(planet))


def _points_in_leaves(leaf_ids, leaf_zoom, rng):
    """1-3 random points (biased-signed h rows) inside each leaf tile."""
    shift = 2 * (32 - leaf_zoom)
    leaf = np.repeat(np.asarray(leaf_ids, np.uint64), rng.integers(1, 4, len(leaf_ids)))
    u = (leaf << np.uint64(shift)) | rng.integers(0, 1 << shift, len(leaf), np.uint64)
    return [(int(h),) for h in (u ^ np.uint64(1 << 63)).view(np.int64)]


@pytest.mark.parametrize("leaf_zoom,seed", [(10, 0), (12, 1), (12, 2)])
def test_tree_delta_splice_equals_rebuild(spark, leaf_zoom, seed):
    """The numpy tree splice of a delta equals rebuilding the tree from
    the merged leaf set, for deltas that mix points in existing leaves,
    new leaves under existing ancestors, and brand-new subtrees; the
    ladder is exactly the dirty set the Spark derivation computes."""
    from pvt_spark.operators.leaves import build_leaves
    from pvt_spark.operators.tree import build_tile_tree
    from pvt_spark.plans.compaction import _LEAF_COLS, _ladder, _tree_delta_splice
    from pvt_spark.session import int64_columns
    from pvt_spark.streaming.incremental import dirty_tiles_for_points

    rng = np.random.default_rng(seed)
    n_leaves = 4 ** leaf_zoom
    # old leaves: a few clusters in the first half of the curve
    bases = rng.integers(0, n_leaves // 2 - 4096, size=6)
    old = np.unique(np.concatenate([b + rng.integers(0, 4096, 60) for b in bases]))
    # new leaves under existing ancestors: siblings of old leaves
    sib = np.setdiff1d((old[::3] & ~15) | rng.integers(0, 16, len(old[::3])), old)
    # new subtrees: the last quarter of the curve holds no old leaf
    far = rng.integers(3 * n_leaves // 4, n_leaves, size=40)
    delta = np.concatenate([rng.choice(old, 25), sib, far])
    assert len(sib) and not np.isin(far, old).any()

    schema = "h long"
    old_pts = spark.createDataFrame(_points_in_leaves(old, leaf_zoom, rng), schema)
    delta_pts = spark.createDataFrame(_points_in_leaves(delta, leaf_zoom, rng), schema)
    old_tree = build_tile_tree(build_leaves(old_pts, leaf_zoom), leaf_zoom)

    leaf_agg = build_leaves(delta_pts, leaf_zoom).select(*_LEAF_COLS)
    leaves = dict(zip(_LEAF_COLS, int64_columns(leaf_agg)))
    ladder = _ladder(leaves["leaf_h"], leaf_zoom)
    keys = list(zip(ladder.zoom.tolist(), ladder.tile_h.tolist()))
    assert keys == sorted(
        (r.zoom, r.tile_h)
        for r in dirty_tiles_for_points(delta_pts, leaf_zoom).collect()
    )

    got = _tree_delta_splice(spark, old_tree, leaves, ladder, leaf_zoom)
    want = build_tile_tree(
        build_leaves(old_pts.unionByName(delta_pts), leaf_zoom), leaf_zoom
    )
    # the splice is the ladder keys' rows; overlaid on the old tree (the
    # tree reader's shape) it is the rebuilt tree
    assert {(r.zoom, r.tile_h) for r in got.collect()} == set(keys)
    assert _rows(overlay(old_tree, got)) == _rows(want)
    assert got.columns == old_tree.columns


def test_dirty_content_pushes_range_predicates(spark, tmp_path):
    """The coarse per-zoom tile_h ranges must reach the parquet scan as
    pushed filters (row-group skipping for spatially clustered deltas);
    the exact dirty-key restriction rides a broadcast semi-join above."""
    from pvt_spark.plans.compaction import _rows_at_keys

    cfg = BuildConfig()
    p0 = synthesize_pages(spark, 60, seed=44, partitions=1)
    planet = str(tmp_path / "p")
    build_planet(spark, p0, planet, cfg)

    df = _rows_at_keys(
        spark.read.parquet(planet + "/content"),
        np.array([12, 12, 10]),
        np.array([100, 200, 50]),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(tile_h" in plan, plan[:2000]
    assert "LessThanOrEqual(tile_h" in plan
    # and the exact restriction is a broadcast semi-join, not a shuffle
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_merge_intervals_unit():
    from pvt_spark.plans.compaction import _merge_intervals

    assert _merge_intervals([], 4) == []
    assert _merge_intervals([5], 4) == [(5, 5)]
    # splits at the two largest gaps
    assert _merge_intervals([1, 2, 3, 100, 101, 500], 3) == [
        (1, 3), (100, 101), (500, 500),
    ]
    # cap 1 collapses to the full range
    assert _merge_intervals([1, 2, 3, 100, 101, 500], 1) == [(1, 500)]
    # more budget than gaps: every point its own interval
    assert _merge_intervals([1, 5, 9], 10) == [(1, 1), (5, 5), (9, 9)]


def test_dirty_content_interval_pruning(spark, tmp_path):
    """Clustered dirt produces a multi-interval pushed predicate; the
    semi-join result is exactly the dirty keys' rows either way."""
    from pvt_spark.plans.compaction import _rows_at_keys

    content = spark.range(10_000).selectExpr(
        "cast(12 as int) as zoom", "id as tile_h", "id as feature_id"
    )
    path = str(tmp_path / "content")
    content.write.partitionBy("zoom").parquet(path)
    # two tight clusters far apart
    hs = np.r_[100:110, 9000:9010]
    got = _rows_at_keys(spark.read.parquet(path), np.full(len(hs), 12), hs)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the pushed filter carries BOTH interval bounds, not one world range
    assert "9000" in plan and "109" in plan, plan[:1500]
    rows = {r.tile_h for r in got.collect()}
    assert rows == set(range(100, 110)) | set(range(9000, 9010))


def test_resolve_manifest_latest_wins_and_idempotent(spark, tmp_path):
    """The deferred-manifest log folds latest-generation-wins, tolerates
    duplicate appends (crash-replayed folds rewrite identical rows), and
    resolving twice is a no-op."""
    import os

    from pvt_spark.plans.compaction import resolve_manifest

    planet = str(tmp_path / "planet")
    os.makedirs(planet)
    base = spark.createDataFrame(
        [(12, 1, 5, 5), (12, 2, 7, 7), (10, 9, 3, 3)],
        "zoom int, tile_h long, feature_count long, distinct_features long",
    )
    base.write.parquet(os.path.join(planet, "tile_manifest"))
    spark.createDataFrame(
        [(12, 1)], "zoom int, tile_count long"
    ).write.parquet(os.path.join(planet, "zoom_metrics"))
    ddir = os.path.join(planet, "tile_manifest_delta")
    rows = {
        1: [(12, 1, 6, 6)],        # updates base key at gen 1
        2: [
            (12, 1, 8, 8),         # ... superseded by gen 2
            (12, 1, 8, 8),         # crash-replay duplicate (identical)
            (12, 5, 2, 2),         # brand-new key
        ],
    }
    for gen, gen_rows in rows.items():
        spark.createDataFrame(
            gen_rows,
            "zoom int, tile_h long, feature_count long, distinct_features long",
        ).write.parquet(os.path.join(ddir, f"gen={gen}"))
    n = resolve_manifest(spark, planet)
    assert n == 4
    got = {
        (r.zoom, r.tile_h): (r.feature_count, r.distinct_features)
        for r in spark.read.parquet(
            os.path.join(planet, "tile_manifest")
        ).collect()
    }
    assert got == {
        (12, 1): (8, 8),
        (12, 2): (7, 7),
        (10, 9): (3, 3),
        (12, 5): (2, 2),
    }
    mets = {
        r.zoom: (r.tile_count, r.feature_rows)
        for r in spark.read.parquet(
            os.path.join(planet, "zoom_metrics")
        ).collect()
    }
    assert mets == {12: (3, 17), 10: (1, 3)}
    assert not os.path.isdir(ddir)
    assert resolve_manifest(spark, planet) == 0  # idempotent no-op


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_build_and_fold_release_their_caches(spark, tmp_path):
    """build_planet and compact_planet unpersist every cache they create
    (the Hilbert sort's input, compose phase 1, the fold's delta points
    and dirty cluster) once the writes reading them ran, so a session
    folding batch after batch holds no more cached RDDs than before."""
    cfg = BuildConfig()
    planet = str(tmp_path / "p")
    before = _persistent_rdds(spark)
    build_planet(spark, synthesize_pages(spark, 60, seed=1, partitions=2), planet, cfg)
    assert _persistent_rdds(spark) == before
    for i in range(2):
        delta = synthesize_pages(spark, 20, seed=2 + i, partitions=1, start=60 + 20 * i)
        assert compact_planet(spark, planet, delta, cfg)["gen"] is not None
        assert _persistent_rdds(spark) == before


def test_fold_generation_files_follow_its_bytes(spark, tmp_path):
    """The dirty cluster and the phase-2 merge carry no partition count:
    AQE coalesces each from its bytes (the persisted dirty cluster
    included), so a small fold writes at most one phase-1 file and one
    phase-2 file per zoom to its tiles generation."""
    cfg = BuildConfig()
    planet = str(tmp_path / "p")
    build_planet(spark, synthesize_pages(spark, 150, seed=1, partitions=2), planet, cfg)
    delta = synthesize_pages(spark, 50, seed=2, partitions=1, start=150)
    assert compact_planet(spark, planet, delta, cfg)["gen"] == 1
    gen_dir = os.path.join(planet, "tiles_delta", "gen=1")
    per_zoom = {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(gen_dir, d)))
        for d in os.listdir(gen_dir)
        if d.startswith("zoom=")
    }
    assert per_zoom and max(per_zoom.values()) <= 2, per_zoom


def test_resolve_manifest_writes_zoom_metrics_as_one_file(spark, tmp_path):
    """zoom_metrics is a per-zoom rollup of about a dozen rows:
    resolve_manifest writes it back as one parquet file, not one per
    slice of the default parallelism."""
    from pvt_spark.plans.compaction import resolve_manifest

    cfg = BuildConfig()
    planet = str(tmp_path / "p")
    build_planet(spark, synthesize_pages(spark, 60, seed=1, partitions=2), planet, cfg)
    delta = synthesize_pages(spark, 20, seed=2, partitions=1, start=60)
    assert compact_planet(spark, planet, delta, cfg, defer_manifest=True)["gen"] == 1
    assert resolve_manifest(spark, planet) > 0
    files = os.listdir(os.path.join(planet, "zoom_metrics"))
    assert sum(f.endswith(".parquet") for f in files) == 1, files
