"""Tile assembly does not depend on how its input content is laid out:
``compose_points`` clusters the point rows itself, so any order and
partitioning of the content stage composes the same tiles."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from pvt_spark.manifest import compile_rules
from pvt_spark.plans.pipeline import BuildConfig, build_planet, compose_planet_tiles
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
    """The built content scattered over several partitions (a tile's
    rows in many of them, in hash order) composes the built tiles."""
    _, _, cfg, out = planet
    scatter = F.xxhash64("feature_id", "zoom")
    scrambled = out["content"].repartition(6, scatter).sortWithinPartitions(scatter)
    tiles = compose_planet_tiles(
        scrambled, out.get("content_mp"), compile_rules(cfg.manifest), cfg
    )
    assert _rows(tiles) == _rows(out["tiles"])


@pytest.mark.parametrize("planet", ["mixed"], indirect=True)
def test_mixed_build_writes_content_mp_at_core_width(planet, spark):
    _, path, _, _ = planet
    files = glob.glob(os.path.join(path, "content_mp", "*.parquet"))
    assert 0 < len(files) <= spark.sparkContext.defaultParallelism
