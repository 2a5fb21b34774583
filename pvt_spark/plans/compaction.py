"""Incremental planet compaction — rebuild ONLY dirty tiles.

The reference's resume unit is a whole stage file (src/main.rs:87-113:
convert -> sort -> tree -> render re-run end-to-end when input
changes). At crawl scale a new micro-batch touches a tiny fraction of
the tile pyramid, so rebuilding the world per drop is the wrong cost
shape. This module maintains the build incrementally, log-structured:

- **points / content are append-only**: a delta batch's points and
  rule-pyramid content rows append to the existing stage snapshots
  (both derivations are purely per-feature, so appends compose —
  feature ids are content-derived ``xxhash64(url, mention_idx)`` and
  identical between a delta build and a full rebuild).
- **the tile tree is spliced, not rebuilt**: the delta's leaf
  aggregate is collected once and its even-zoom ancestor ladder
  updates the tree associatively (counts sum, child masks OR, h
  extents widen, leaf counts grow by the new leaves beneath), so the
  expensive leaves-from-points aggregation runs on the delta only.
- **tile payloads recompose for DIRTY tiles only** — each delta leaf
  plus its even-zoom ancestor ladder. Recomposed tiles land in a new
  ``tiles_delta/gen=N`` generation; ``read_tiles`` resolves
  latest-generation-wins per (zoom, tile_h). Work scales with the
  dirty-tile content, not the planet.

Scale note: every tile-key set of a fold is int64 numpy columns on the
driver — the delta leaf aggregate (``leaf_h``, ``n_count``, ``h_min``,
``h_max``, one Arrow collect) and the dirty (zoom, tile_h) keys, 16
bytes per key, the same order as the dirty-set broadcast every fold
pays. The ladder, the tree-splice aggregation, the defer split and the
per-zoom interval cover are vectorized over them. The exact
dirty-content restriction is a broadcast semi-join, fronted by a
per-zoom ``tile_h`` interval cover that pushes down to parquet
row-group stats — content is written tile_h-sorted within zoom
partitions, so most of the planet's row groups are skipped before the
join runs.

Equivalence contract (tested): base build + N compactions produces
md5-identical tile payloads, an identical tree, and an identical
manifest to one full rebuild over the concatenated pages.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..manifest import compile_rules
from ..operators.compose import split_tile_keys, tile_keys
from ..operators.content import tile_manifest
from ..operators.leaves import build_leaves
from ..session import int64_columns, local_frame
from .pipeline import (
    BuildConfig,
    atomic_json_write,
    check_config,
    compose_planet_tiles,
    generations,
    manifest_input,
    point_content,
    read_json,
    sorted_points,
    splice_manifest,
    swap_write,
    timed,
    write_lineage,
)


def _append_log(planet_dir: str, record: dict) -> None:
    """Append one record to the planet's ``_compaction.json`` log."""
    log_path = os.path.join(planet_dir, "_compaction.json")
    atomic_json_write(log_path, read_json(log_path, []) + [record])


def _entity_counts(cols) -> list[str]:
    # leaf_count is derived (1 per leaf row), not an entity count
    return [c for c in cols if c.endswith("_count") and c != "leaf_count"]


_KEYS_DDL = "zoom int, tile_h long"
_LEAF_COLS = ("leaf_h", "n_count", "h_min", "h_max")


def _keys_frame(spark: SparkSession, zoom, tile_h) -> DataFrame:
    return local_frame(spark, {"zoom": zoom, "tile_h": tile_h}, _KEYS_DDL)


class Ladder(NamedTuple):
    """The even-zoom ancestor ladder of a set of leaves: the distinct
    (zoom, tile_h) keys in (zoom, tile_h) order — a fold's dirty set —
    and the ``order``/``starts`` that reduce the per-(zoom, leaf)
    entries (row-major over zooms ``leaf_zoom, leaf_zoom - 2, ... 0``)
    onto those keys with ``ufunc.reduceat``."""

    zoom: np.ndarray
    tile_h: np.ndarray
    order: np.ndarray
    starts: np.ndarray


def _ladder(leaf_h: np.ndarray, leaf_zoom: int) -> Ladder:
    zooms = np.arange(leaf_zoom, -1, -2, dtype=np.int64)
    keys = tile_keys(
        zooms[:, None], leaf_h[None, :] >> (2 * (leaf_zoom - zooms))[:, None]
    ).ravel()
    order = np.argsort(keys, kind="stable")
    keys = keys[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    return Ladder(*split_tile_keys(keys[starts]), order, starts)


def _tree_delta_splice(
    spark: SparkSession,
    old_tree: DataFrame,
    leaves: dict,
    ladder: Ladder,
    leaf_zoom: int,
) -> DataFrame:
    """Associative DELTA update of the tile tree for an append-only page
    delta: counts sum, child masks OR, h extents widen, and each
    interior tile's leaf_count grows by the number of brand-new leaves
    beneath it. Exactly equal to rebuilding the rollup from the merged
    leaf set (all updates are integer sums / min / max / bit_or —
    order-independent), but the work is O(delta ladder) + two scans of
    the old tree instead of a leaf-set shuffle + an explode aggregate
    over EVERY leaf per fold.

    ``leaves`` holds the delta's ``build_leaves`` columns as int64
    arrays; ``ladder`` is their ancestor ladder (the fold's dirty set),
    aggregated here with numpy.
    """
    leaf_h = leaves["leaf_h"]
    exist = tile_keys(
        *int64_columns(
            old_tree.join(
                F.broadcast(_keys_frame(spark, ladder.zoom, ladder.tile_h)),
                ["zoom", "tile_h"],
                "left_semi",
            ).select("zoom", "tile_h")
        )
    )
    n_z = leaf_zoom // 2 + 1
    shift = 2 * (leaf_zoom - np.arange(leaf_zoom, -1, -2, dtype=np.int64))[:, None]
    # per-(zoom, leaf) entries: the bit of the z+2 child holding the
    # leaf (none at the leaf level), and whether the leaf is new
    bit = np.where(shift > 0, 1 << ((leaf_h >> np.maximum(shift - 4, 0)) & 15), 0)
    is_new = ~np.isin(tile_keys(leaf_zoom, leaf_h), exist)

    def reduce(ufunc, per_entry):
        return ufunc.reduceat(per_entry.ravel()[ladder.order], ladder.starts)

    def tiled(a):
        return np.broadcast_to(a, (n_z, len(leaf_h)))

    d = {
        "zoom": ladder.zoom,
        "tile_h": ladder.tile_h,
        "d_mask": reduce(np.bitwise_or, bit),
        "d_n": reduce(np.add, tiled(leaves["n_count"])),
        "d_leaf": reduce(np.add, tiled(is_new.astype(np.int64))),
        "d_hmin": reduce(np.minimum, tiled(leaves["h_min"])),
        "d_hmax": reduce(np.maximum, tiled(leaves["h_max"])),
    }
    old = np.isin(tile_keys(ladder.zoom, ladder.tile_h), exist)
    count_cols = _entity_counts(old_tree.columns)
    dschema = (
        "zoom int, tile_h long, d_mask int, d_n long, d_leaf long, "
        "d_hmin long, d_hmax long"
    )
    merged = old_tree.join(
        F.broadcast(local_frame(spark, {k: v[old] for k, v in d.items()}, dschema)),
        ["zoom", "tile_h"],
        "left",
    ).select(
        "zoom",
        "tile_h",
        F.col("child_mask")
        .bitwiseOR(F.coalesce(F.col("d_mask"), F.lit(0)))
        .cast("int")
        .alias("child_mask"),
        *[
            (
                F.col(c) + F.coalesce(F.col("d_n"), F.lit(0))
                if c == "n_count"
                else F.col(c)
            ).alias(c)
            for c in count_cols
        ],
        (F.col("leaf_count") + F.coalesce(F.col("d_leaf"), F.lit(0))).alias(
            "leaf_count"
        ),
        F.least(
            F.col("h_min"), F.coalesce(F.col("d_hmin"), F.col("h_min"))
        ).alias("h_min"),
        F.greatest(
            F.col("h_max"), F.coalesce(F.col("d_hmax"), F.col("h_max"))
        ).alias("h_max"),
    )
    fresh = local_frame(spark, {k: v[~old] for k, v in d.items()}, dschema).select(
        "zoom",
        "tile_h",
        F.col("d_mask").cast("int").alias("child_mask"),
        *[
            (F.col("d_n") if c == "n_count" else F.lit(0).cast("long")).alias(c)
            for c in count_cols
        ],
        F.col("d_leaf").alias("leaf_count"),
        F.col("d_hmin").alias("h_min"),
        F.col("d_hmax").alias("h_max"),
    )
    return merged.unionByName(fresh).select(*old_tree.columns)


def _merge_intervals(hs, max_intervals: int) -> list[tuple[int, int]]:
    """Cover a sorted unique int64 array with <= max_intervals closed
    intervals, splitting at the LARGEST gaps (the optimal cover of
    that size: total covered slack = sum of the kept gaps, minimized
    by removing the biggest ones; equal gaps split leftmost first)."""
    hs = np.asarray(hs, dtype=np.int64)
    if not len(hs):
        return []
    widest = np.argsort(-np.diff(hs), kind="stable")[: max(max_intervals - 1, 0)]
    cuts = np.sort(widest) + 1
    return [
        (int(hs[a]), int(hs[b]))
        for a, b in zip(np.r_[0, cuts], np.r_[cuts - 1, len(hs) - 1])
    ]


def _dirty_content(
    spark: SparkSession,
    content_path: str,
    zoom: np.ndarray,
    tile_h: np.ndarray,
    max_intervals: int = 32,
) -> DataFrame:
    """Content rows restricted to the dirty (zoom, tile_h) keys, with a
    row-group-skipping coarse predicate in front of the exact broadcast
    semi-join.

    The coarse predicate is a per-zoom INTERVAL COVER, not one (min, max)
    range: real dirt is spatially clustered (a re-crawl region), and
    Hilbert clustering makes clustered tiles contiguous in tile_h, so
    up to ``max_intervals`` largest-gap intervals per zoom let parquet
    min/max stats skip the untouched row groups a single world-spanning
    range cannot. Uniform dirt degrades to ~the full range; the
    semi-join stays exact either way."""
    coarse = None
    for z in np.unique(zoom).tolist():
        rng = None
        for lo, hi in _merge_intervals(np.unique(tile_h[zoom == z]), max_intervals):
            q = (F.col("tile_h") >= lo) & (F.col("tile_h") <= hi)
            rng = q if rng is None else (rng | q)
        p = (F.col("zoom") == z) & rng
        coarse = p if coarse is None else (coarse | p)
    content = spark.read.parquet(content_path)
    if coarse is not None:
        content = content.where(coarse)
    return content.join(
        F.broadcast(_keys_frame(spark, zoom, tile_h)), ["zoom", "tile_h"], "left_semi"
    )


def _recompose_dirty_tiles(
    spark: SparkSession,
    planet_dir: str,
    zoom: np.ndarray,
    tile_h: np.ndarray,
    config: BuildConfig,
    compiled,
    gen: int,
    steps: dict | None = None,
    defer_manifest: bool = False,
) -> bool:
    """Re-cluster the dirty keys' (old + delta) content in memory (hash
    partition + sort — the compose contract, without the parquet round
    trip the tmp-dir layout paid), run the normal phase-1/phase-2
    compose (mixed planets re-merge the dirty slice of the unchanged
    content_mp stage as geometry chunks), write the result as
    generation ``gen``, and splice the manifest/metrics for exactly the
    keys passed. The gen write and the manifest/metrics splice are
    independent consumers of the materialized dirty cache and run as
    concurrent jobs. Per-step walls land in ``steps`` (overlapping).

    Returns whether generation ``gen`` was written: keys without point
    content (all deferred, or zooms the rules render no points at) write
    none — their tiles cannot have changed, and an empty generation has
    no files to read back."""
    if steps is None:
        steps = {}
    if not len(zoom):
        return False
    mixed = os.path.isdir(os.path.join(planet_dir, "content_mp"))
    content_path = os.path.join(planet_dir, "content")
    delta_dir = os.path.join(planet_dir, "tiles_delta")
    dirty = _keys_frame(spark, zoom, tile_h)
    dirty_all = _dirty_content(spark, content_path, zoom, tile_h)
    # Cluster the dirty slice IN MEMORY instead of round-tripping it
    # through a parquet tmp dir: hash-partition by (zoom, tile_h) +
    # sort-within gives compose_points_presorted exactly the contract it
    # needs (a tile's rows in ONE partition, contiguous), without the
    # range-boundary sampling pass, the parquet write, or the read-back.
    # The count materializes the cache ONCE so the two concurrent
    # consumers below (gen write, manifest splice) both read it instead
    # of racing to recompute the scan+shuffle.
    # cluster width follows the DIRTY TILE count (~500 tiles per python
    # phase-1 task), not the corpus conf: an explicit conf-width
    # repartition spread a few thousand dirty tiles over 128 python
    # tasks and wrote hundreds of near-empty gen files per fold
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_parts = max(8, min(conf_parts, len(zoom) // 500 + 1))
    dirty_sorted = (
        dirty_all.repartition(n_parts, "zoom", "tile_h")
        .sortWithinPartitions("zoom", "tile_h")
        .persist()
    )
    if not timed(steps, "dirty_cluster", dirty_sorted.count):
        # no point content at any key: multi-point content alone never
        # changes under a page delta, so every such tile is unchanged
        dirty_sorted.unpersist()
        return False
    mp_dirty = None
    try:
        if mixed:
            # same merge shape as build_planet's mixed compose, restricted
            # to the dirty keys: the mp tile subset demotes from finals to
            # chunks and merges with its (unchanged) geometry chunks
            mp_dirty = spark.read.parquet(
                os.path.join(planet_dir, "content_mp")
            ).join(F.broadcast(dirty), ["zoom", "tile_h"], "left_semi").persist()
        recomposed = compose_planet_tiles(
            dirty_sorted, mp_dirty, compiled, config, file_marker=False
        )

        def _gen_write() -> None:
            (
                recomposed.write.mode("overwrite")
                .partitionBy("zoom")
                .parquet(os.path.join(delta_dir, f"gen={gen}"))
            )

        # manifest splice + zoom metrics recompute (both tile-bounded).
        # The spliced manifest is persisted so the metrics rollup reads
        # the cache instead of re-scanning the just-written parquet.
        # ``defer_manifest`` (streaming drains): the splice is the last
        # per-fold O(planet-tiles) term — instead, the fold appends its
        # delta-bounded per-tile counts (one row per dirty key, stamped
        # with the generation) to ``_manifest_delta`` and
        # ``resolve_manifest`` folds the log into the base table ONCE at
        # drain end (latest-generation-wins, the tiles_delta discipline;
        # base manifest + zoom metrics serve stale until then, the same
        # staleness contract _deferred_dirty tiles already have).
        def _manifest_metrics() -> None:
            new_counts = tile_manifest(manifest_input(dirty_sorted, mp_dirty))
            if defer_manifest:
                (
                    new_counts.withColumn("gen", F.lit(gen))
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(os.path.join(planet_dir, "_manifest_delta"))
                )
                return
            splice_manifest(spark, planet_dir, F.broadcast(dirty), new_counts, gen)

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_gen = pool.submit(timed, steps, "recompose", _gen_write)
            f_man = pool.submit(timed, steps, "manifest_metrics", _manifest_metrics)
            f_gen.result()
            f_man.result()
    finally:
        if mp_dirty is not None:
            mp_dirty.unpersist()
        dirty_sorted.unpersist()
    return True


def compact_planet(
    spark: SparkSession,
    planet_dir: str,
    delta_pages: DataFrame,
    config: BuildConfig | None = None,
    defer_zoom_below: int | None = None,
    stream_batch_id: int | None = None,
    defer_manifest: bool = False,
) -> dict:
    """Fold a delta page batch into an existing planet build.

    ``defer_manifest`` (streaming drains): per-fold manifest/metrics
    maintenance appends delta-bounded count rows to ``_manifest_delta``
    instead of splicing the planet-sized manifest table; call
    ``resolve_manifest`` when the drain ends (run_incremental_build does
    this) — until then the base manifest and zoom metrics serve their
    pre-drain state, the same staleness contract as _deferred_dirty.

    Returns a summary dict (generation, dirty tile count, delta rows).
    A delta with no geo points writes nothing and logs ``gen: None``; so
    does the recompose when no dirty tile left after the deferral holds
    point content (no ``tiles_delta`` generation is written).
    ``stream_batch_id`` (the streaming exactly-once marker) is written
    INTO this compaction's log record in the same json write — atomic
    with the fold, so a crash can never leave a folded-but-unmarked
    batch for foreachBatch to double-apply.
    ``config`` must fingerprint-match the base build — compacting under
    different rules would splice tiles rendered under two manifests.
    Mixed planets are supported for PAGE deltas (points only); deltas
    that add ways/relations require a rebuild. Mixed compaction also
    assumes delta pages carry NEW urls: way refs resolve by node id
    (the OSM node-id-uniqueness analog), so a re-crawl delta that
    reuses an existing url would give a full rebuild a second node per
    ref while the incremental path keeps the base resolution.
    """
    config = config or BuildConfig()
    check_config(planet_dir, config, "compaction")
    # Mixed planets: a PAGE delta adds points only — it cannot change
    # way/relation geometry (ways reference the base build's node ids,
    # relation h is a fixed point over those members), so the persisted
    # content_mp stage stays valid and the dirty recompose re-merges its
    # dirty-tile slice with the refreshed point chunks. Deltas that add
    # ways/relations themselves still require a rebuild.
    compiled = compile_rules(config.manifest)
    t0 = time.time()
    steps: dict[str, float] = {}
    _last = [t0]

    def _mark(name: str) -> None:
        now = time.time()
        steps[name] = round(now - _last[0], 3)
        _last[0] = now

    gen = max(generations(planet_dir), default=0) + 1

    # 1. delta points (same fused extract+featureize+sort kernel as the
    #    points_sorted stage), persisted — three derivations read it,
    #    and delta batches are micro-batch sized by design
    delta_points = sorted_points(delta_pages, config).persist()
    n_delta = delta_points.count()

    def _log_summary(summary: dict) -> dict:
        summary["wall_sec"] = round(time.time() - t0, 3)
        summary["steps"] = steps
        if stream_batch_id is not None:
            summary["stream_batch_id"] = stream_batch_id
        _append_log(planet_dir, summary)
        return summary

    if n_delta == 0:
        # no geo mention in the delta: nothing is dirty, so the fold
        # writes no generation (an empty one has no files to read back)
        delta_points.unpersist()
        _mark("delta_points")
        return _log_summary(
            {"gen": None, "delta_rows": 0, "dirty_tiles": 0, "deferred_tiles": 0}
        )
    # ONE Arrow collect of the delta leaf aggregate feeds both the dirty
    # set (2. each leaf's even-zoom ancestor ladder) and the tree splice
    lz = config.leaf_zoom
    leaf_agg = build_leaves(delta_points, lz).select(*_LEAF_COLS)
    leaves = dict(zip(_LEAF_COLS, int64_columns(leaf_agg)))
    _mark("delta_points")
    ladder = _ladder(leaves["leaf_h"], lz)
    n_dirty = len(ladder.zoom)
    _mark("dirty_set")

    # Steps 3-7 below are a dependency DAG, not a chain: the tree
    # splice, the content append, and the points append each depend only
    # on delta_points, while the recompose chain needs the dirty set AND
    # the appended content. Running the independent branches as
    # concurrent driver-thread jobs (guide-standard back-fill: a fold is
    # fixed-cost dominated, so the tail of one tiny job schedules the
    # next instead of idling the executor) cuts the per-fold wall by the
    # sum of the overlapped steps. Step walls are recorded per step
    # (concurrent steps overlap, so they no longer sum to the fold wall).
    # 3. tree: delta-splice the rollup (counts sum, masks OR, extents
    #    widen — exact) so per-fold tree work is O(delta ladder), not a
    #    leaf-set shuffle + explode rollup over every leaf
    def _tree_task() -> None:
        tree_path = os.path.join(planet_dir, "tile_tree")
        old_tree = spark.read.parquet(tree_path)
        swap_write(_tree_delta_splice(spark, old_tree, leaves, ladder, lz), tree_path)
        write_lineage(tree_path, compaction_gen=gen)

    # 4. content: append the delta's rule-pyramid rows (purely
    #    per-feature -> append-composable)
    def _content_task() -> None:
        content_path = os.path.join(planet_dir, "content")
        delta_content = point_content(delta_points, config, compiled)
        delta_content.write.mode("append").partitionBy("zoom").parquet(content_path)
        write_lineage(content_path, compaction_gen=gen)

    # 7. points append: nothing in the fold re-reads the points stage
    def _points_task() -> None:
        points_path = os.path.join(planet_dir, "points_sorted")
        delta_points.write.mode("append").parquet(points_path)
        write_lineage(points_path, compaction_gen=gen)

    # 2b. low-zoom deferral: a zoom-z tile count shrinks 16x per even
    #     level, so low-zoom tiles are FEW but are dirtied by ~every
    #     delta batch and hold a planet-proportional share of content
    #     (every z-visible feature renders into one of a handful of
    #     tiles). Recomposing them per micro-batch re-does that work
    #     every time; deferring them amortizes it across K batches
    #     and makes the per-batch cost delta-bounded. Deferred keys
    #     accumulate under _deferred_dirty and fold on
    #     flush_deferred / materialize_tiles; until then read_tiles
    #     serves the previous (stale) low-zoom overview tiles — the
    #     standard tile-server tradeoff.
    undeferred = ladder.zoom >= (
        -1 if defer_zoom_below is None else int(defer_zoom_below)
    )
    deferred_n = int(n_dirty - undeferred.sum())
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_tree = pool.submit(timed, steps, "tree_merge", _tree_task)
        f_content = pool.submit(timed, steps, "content_append", _content_task)
        f_points = pool.submit(timed, steps, "points_append", _points_task)
        if defer_zoom_below is not None:
            to_park = _keys_frame(
                spark, ladder.zoom[~undeferred], ladder.tile_h[~undeferred]
            )
            # the parked write blocks nothing downstream — overlap it
            f_park = pool.submit(
                timed,
                steps,
                "defer_split",
                lambda: (
                    to_park.withColumn("gen", F.lit(gen))
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(os.path.join(planet_dir, "_deferred_dirty"))
                ),
            )

        # 5+6. recompose the (non-deferred) dirty tiles and splice
        #      metadata — needs the content append committed first (the
        #      dirty slice must include the delta's own content rows)
        f_content.result()
        wrote = _recompose_dirty_tiles(
            spark, planet_dir, ladder.zoom[undeferred], ladder.tile_h[undeferred],
            config, compiled, gen, steps=steps, defer_manifest=defer_manifest,
        )
        f_tree.result()
        f_points.result()
        if defer_zoom_below is not None:
            f_park.result()
    delta_points.unpersist()

    return _log_summary(
        {
            "gen": gen if wrote else None,
            "delta_rows": n_delta,
            "dirty_tiles": n_dirty,
            "deferred_tiles": deferred_n,
        }
    )


def _latest_wins(df: DataFrame, gen_col: str) -> DataFrame:
    """Each (zoom, tile_h)'s row of the highest ``gen_col``, which drops."""
    w = Window.partitionBy("zoom", "tile_h").orderBy(F.col(gen_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop(gen_col, "_rn")
    )


def read_tiles(spark: SparkSession, planet_dir: str) -> DataFrame:
    """Serving view over base tiles + compaction generations:
    latest-generation-wins per (zoom, tile_h).

    Tile-lookup predicates (serve.py's pushed h-range filters) apply
    to every generation's scan BEFORE the per-tile window runs, so a
    single-tile fetch reads a handful of rows regardless of how many
    generations exist. ``materialize_tiles`` folds generations back
    into the base when the delta count warrants it.

    With ``defer_zoom_below`` compaction, low-zoom overview tiles serve
    their pre-deferral payloads until ``flush_deferred`` runs.
    """
    out = spark.read.parquet(os.path.join(planet_dir, "tiles")).withColumn(
        "_gen", F.lit(0)
    )
    for g in generations(planet_dir):
        out = out.unionByName(
            spark.read.parquet(
                os.path.join(planet_dir, "tiles_delta", f"gen={g}")
            ).withColumn("_gen", F.lit(g))
        )
    return _latest_wins(out, "_gen")


def resolve_manifest(
    spark: SparkSession, planet_dir: str
) -> int:
    """Fold the ``_manifest_delta`` log (written by defer_manifest folds)
    into the base tile_manifest — latest-generation-wins per
    (zoom, tile_h), exactly the tiles_delta discipline — and recompute
    zoom_metrics from the resolved table. O(planet tiles) ONCE per
    drain instead of once per fold. Returns the number of delta rows
    folded (0 = nothing to do). Idempotent: a crash before the log
    removal re-folds the same rows to the same result (each key's
    latest generation is deterministic)."""
    ddir = os.path.join(planet_dir, "_manifest_delta")
    if not os.path.isdir(ddir):
        return 0
    deltas = spark.read.parquet(ddir)
    n = deltas.count()
    if n == 0:
        shutil.rmtree(ddir)
        return 0
    splice_manifest(
        spark, planet_dir, deltas.select("zoom", "tile_h").distinct(),
        _latest_wins(deltas, "gen"), -1,
    )
    shutil.rmtree(ddir)
    return int(n)


def flush_deferred(
    spark: SparkSession, planet_dir: str, config: BuildConfig | None = None,
    defer_manifest: bool = False,
) -> int:
    """Fold the accumulated low-zoom deferred dirty set (from
    ``compact_planet(..., defer_zoom_below=z)``) into a new tile
    generation; returns the number of flushed tiles. One flush pays the
    low-zoom recompose ONCE for every batch deferred since the last
    flush."""
    ddir = os.path.join(planet_dir, "_deferred_dirty")
    if not os.path.isdir(ddir):
        return 0
    config = config or BuildConfig()
    check_config(planet_dir, config, "flush")
    pending = np.unique(
        tile_keys(*int64_columns(spark.read.parquet(ddir).select("zoom", "tile_h")))
    )
    n = len(pending)
    if n == 0:
        shutil.rmtree(ddir)
        return 0
    gen = max(generations(planet_dir), default=0) + 1
    compiled = compile_rules(config.manifest)
    t0 = time.time()
    wrote = _recompose_dirty_tiles(
        spark, planet_dir, *split_tile_keys(pending), config, compiled, gen,
        defer_manifest=defer_manifest,
    )
    shutil.rmtree(ddir)
    _append_log(
        planet_dir,
        {"gen": gen if wrote else None, "flush": True, "flushed_tiles": n,
         "wall_sec": round(time.time() - t0, 3)},
    )
    return n


def materialize_tiles(
    spark: SparkSession,
    planet_dir: str,
    config: BuildConfig | None = None,
) -> int:
    """Fold all compaction generations into the base tiles dir (the
    LSM 'major compaction'); returns the number of folded generations.
    Flushes any deferred low-zoom dirty set first so the materialized
    base is exact."""
    flush_deferred(spark, planet_dir, config)
    gens = generations(planet_dir)
    if not gens:
        return 0
    resolved = read_tiles(spark, planet_dir)
    tiles_path = os.path.join(planet_dir, "tiles")
    swap_write(resolved, tiles_path, partition_by="zoom")
    write_lineage(tiles_path, compaction_gen=gens[-1])
    shutil.rmtree(os.path.join(planet_dir, "tiles_delta"))
    return len(gens)
