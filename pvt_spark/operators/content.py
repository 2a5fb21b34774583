"""A5: the tile-content index (pyramid render) + S11 tile metrics.

The reference walks interior tiles bottom-up, re-filtering each tile's
candidate entities per zoom and appending surviving indexes to per-zoom
content arrays (src/hilbert/content.rs:17-236; 20min serial / 7.5min
rayon on a full planet, notes/render.md). Relationally the whole
pyramid is ONE expression: evaluate rules once per feature, explode the
feature's visible even-zoom range (F3), key each row by its tile at
that zoom — every (zoom, tile_h, feature) row of the reference's n/w/r
arrays, produced in a single pass with no per-zoom re-scan.

Scale notes: output is an index (ids + small ints), ~8 rows max per
feature. Written partitioned by zoom, sorted by tile_h within
partitions, so serving a tile is a partition-pruned range scan (J7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import zoom_h
from ..manifest import CompiledRules, Manifest
from .rules import evaluate_rules_inline, visible_zooms


def render_content(
    features: DataFrame,
    manifest: Manifest,
    compiled: CompiledRules,
    id_col: str = "feature_id",
    tags_col: str = "tags",
    h_col: str = "h",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """features(id, tags, h) -> content(zoom, tile_h, feature_id, eval_i,
    rule, layers[, carry_cols...]).

    Untagged features are dropped entirely (F4, reference
    src/filter.rs:26-30). ``carry_cols`` denormalizes feature attributes
    (tags, coordinates) into the content rows so tile assembly needs NO
    join back to the feature table — the ~8x duplication is cheap under
    parquet dictionary encoding and saves a full shuffle at scale.
    """
    tags_field = dict(features.dtypes)[tags_col]
    nonempty = (
        F.size(F.map_keys(F.col(tags_col))) > 0
        if tags_field.startswith("map")
        else F.size(F.col(tags_col)) > 0
    )
    tagged = features.where(nonempty)
    # inline fold evaluation: zero shuffles (equivalence with the
    # broadcast-join evaluate_rules is property-tested)
    evaluated = evaluate_rules_inline(tagged, compiled, tags_col=tags_col)
    per_zoom = visible_zooms(evaluated, manifest.leaf_zoom)
    return per_zoom.select(
        F.col("zoom"),
        F.col(id_col).alias("feature_id"),
        F.col(h_col).alias("h"),
        "eval_i",
        "rule",
        "layers",
        *[F.col(c) for c in (carry_cols or [])],
    ).withColumn("tile_h", tile_h_at_zoom_col("h", "zoom"))


def tile_h_at_zoom_col(h_col: str, zoom_col: str):
    """zoom_h with a COLUMN zoom: unbias the signed h (XOR the sign bit =
    shiftleft(1L, 63)) then unsigned-shift by 2*(32-z). Pure native SQL."""
    return F.expr(
        f"shiftrightunsigned({h_col} ^ shiftleft(cast(1 as bigint), 63), "
        f"cast(64 - {zoom_col} * 2 as int))"
    )


def write_content(content: DataFrame, path: str) -> None:
    """Write partitioned by zoom, tile_h-sorted within each task's file.

    No shuffle: the sort is task-local, so each file holds a tile_h-
    sorted run of its zoom and parquet row-group stats stay tight for
    the fold's per-zoom interval cover (``compaction._rows_at_keys``).
    Tile assembly does not rely on this layout (``compose_features``
    clusters its own input).
    """
    content.sortWithinPartitions("zoom", "tile_h").write.mode("overwrite").partitionBy(
        "zoom"
    ).parquet(path)


def tile_manifest(content: DataFrame) -> DataFrame:
    """Per-tile feature counts — the engine's tile manifest table (the
    north rule's acceptance object: tile IDs + feature-to-tile
    assignments)."""
    return content.groupBy("zoom", "tile_h").agg(
        F.count(F.lit(1)).alias("feature_count"),
        F.countDistinct("feature_id").alias("distinct_features"),
    )


def zoom_metrics(content: DataFrame) -> DataFrame:
    """S11 report analog: per-zoom tile/feature counts."""
    return content.groupBy("zoom").agg(
        F.countDistinct("tile_h").alias("tile_count"),
        F.count(F.lit(1)).alias("feature_rows"),
    )


def zoom_metrics_from_manifest(manifest: DataFrame) -> DataFrame:
    """Same result derived from the (much smaller) tile manifest."""
    return manifest.groupBy("zoom").agg(
        F.count(F.lit(1)).alias("tile_count"),
        F.sum("feature_count").alias("feature_rows"),
    )
