"""Tile assembly does not depend on how its input content is laid out:
``compose_features`` clusters the rows itself, so any order and
partitioning of the content stages composes the same tiles; mixed tiles
leave phase 1 as finals; and a hot tile split across phase-1 tasks
composes the same bytes as one task."""

import glob
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pvt_spark import hilbert
from pvt_spark.manifest import compile_rules
from pvt_spark.operators.compose import (
    compose_features,
    compose_tiles,
    phase1,
    project_geometry,
    tag_kv,
)
from pvt_spark.plans.pipeline import (
    BuildConfig,
    _layer_order,
    _render_features,
    build_planet,
    compose_planet_tiles,
)
from pvt_spark.session import held_caches
from pvt_spark.sources.pages import synthesize_pages

CONFIGS = {"points": BuildConfig(), "mixed": BuildConfig(synth_ways=25)}


@pytest.fixture(scope="module", params=sorted(CONFIGS))
def planet(request, spark, tmp_path_factory):
    cfg = CONFIGS[request.param]
    path = str(tmp_path_factory.mktemp(request.param) / "planet")
    out = build_planet(spark, synthesize_pages(spark, 300, seed=3), path, cfg)
    return request.param, path, cfg, out


def _rows(tiles):
    return sorted(tuple(r) for r in tiles.select(*sorted(tiles.columns)).collect())


def test_compose_does_not_depend_on_content_layout(planet):
    """The built content (and multi-point content) scattered over several
    partitions (a tile's rows in many of them, in hash order) composes
    the built tiles."""
    _, _, cfg, out = planet
    scatter = F.xxhash64("feature_id", "zoom")

    def scrambled(df):
        return df.repartition(6, scatter).sortWithinPartitions(scatter)

    mp = out.get("content_mp")
    tiles = compose_planet_tiles(
        scrambled(out["content"]),
        None if mp is None else scrambled(mp),
        compile_rules(cfg.manifest),
        cfg,
    )
    assert _rows(tiles) == _rows(out["tiles"])


@pytest.mark.parametrize("planet", ["mixed"], indirect=True)
def test_mixed_phase1_chunks_only_batch_boundary_tiles(planet, spark):
    """Tiles holding points, ways and relations leave phase 1 as finals:
    chunk rows come only from a partition's first and last tile (one
    Arrow batch per phase-1 partition at this size), not from every
    tile with multi-point content."""
    _, _, cfg, out = planet
    content = out["content"].unionByName(out["content_mp"], allowMissingColumns=True)
    rf = _render_features(spark, content, compile_rules(cfg.manifest), cfg)
    ph1 = phase1(rf, _layer_order(cfg))
    per_partition = (
        ph1.where(~F.col("final"))
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.countDistinct("zoom", "tile_h").alias("tiles"))
        .collect()
    )
    assert per_partition and max(r.tiles for r in per_partition) <= 2
    assert ph1.where(F.col("final")).count() > 0


@pytest.mark.parametrize("planet", ["mixed"], indirect=True)
def test_mixed_build_writes_content_mp_at_core_width(planet, spark):
    _, path, _, _ = planet
    files = glob.glob(os.path.join(path, "content_mp", "*.parquet"))
    assert 0 < len(files) <= spark.sparkContext.defaultParallelism


HOT_Z = 12
HOT_TILE = 9_000_000


def _hot_rows(n_hot=12_000, n_cold=200, per_cold=20, seed=5):
    """Point rows at zoom 12: one tile holding most of them, plus
    ``n_cold`` small tiles after it on the curve."""
    rng = np.random.default_rng(seed)
    tile_h = np.concatenate(
        [np.full(n_hot, HOT_TILE), np.repeat(HOT_TILE + 1 + np.arange(n_cold), per_cold)]
    ).astype(np.uint64)
    shift = np.uint64(2 * (32 - HOT_Z))
    h = (tile_h << shift) + rng.integers(0, 1 << 40, len(tile_h)).astype(np.uint64)
    gx, gy = hilbert.h2xy(h, 32)
    return pd.DataFrame(
        {
            "zoom": np.full(len(h), HOT_Z, np.int32),
            "tile_h": tile_h.astype(np.int64),
            "feature_id": np.arange(len(h), dtype=np.int64),
            "h": hilbert.h_to_signed(h),
            "gx": gx.astype(np.int64),
            "gy": gy.astype(np.int64),
        }
    )


def _point_rf(spark, pdf):
    return spark.createDataFrame(
        pdf.assign(layer="Places", kv=[["amenity", "cafe"]] * len(pdf), n_tags=1),
        "zoom int, tile_h long, feature_id long, h long, gx long, gy long, "
        "layer string, kv array<string>, n_tags int",
    )


def _geometry_rf(spark, pdf):
    """A short line per row, in world coords (``compose_tiles`` input)."""
    lines = pdf.assign(
        layer="Roads",
        out_tags=[{"highway": "residential"}] * len(pdf),
        geom_x=[[x, x + 4096, x + 8192] for x in pdf["gx"]],
        geom_y=[[y, y + 4096, y] for y in pdf["gy"]],
    )
    return spark.createDataFrame(
        lines.drop(columns=["gx", "gy"]),
        "zoom int, tile_h long, feature_id long, h long, layer string, "
        "out_tags map<string,string>, geom_x array<long>, geom_y array<long>",
    )


def _hot_partitions(phase1):
    return (
        phase1.where(F.col("tile_h") == HOT_TILE)
        .select(F.spark_partition_id())
        .distinct()
        .count()
    )


def test_hot_tile_splits_across_phase1_tasks(spark):
    """A tile holding most of the rows is split by the range key, for
    points and for lines, and the tiles equal a one-partition compose
    byte for byte (phase 2 merges the pieces' chunks in any order)."""
    pdf = _hot_rows()
    points, lines = _point_rf(spark, pdf), _geometry_rf(spark, pdf)
    layers = ["no_rule", "Places", "Roads"]

    def composed():
        # the phase 1 caches go with the block: a later compose of the
        # same plan must not read them back at the old width
        with held_caches():
            return (
                _rows(compose_features(points, layers)),
                _rows(compose_tiles(lines, layers)),
            )

    conf = spark.conf
    old_coalesce = conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    old_width = conf.get("spark.sql.shuffle.partitions")
    try:
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        assert _hot_partitions(phase1(points, layers)) > 1
        assert _hot_partitions(phase1(tag_kv(project_geometry(lines)), layers)) > 1
        split = composed()
        conf.set("spark.sql.shuffle.partitions", "1")
        whole = composed()
    finally:
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", old_coalesce)
        conf.set("spark.sql.shuffle.partitions", old_width)
    assert split == whole
    # _rows orders columns by name: feature_count first, tile_h fifth
    hot = [r for r in split[0] if r[4] == HOT_TILE]
    assert len(hot) == 1 and hot[0][0] == len(pdf) - 200 * 20
