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
- **tiles, tile tree and tile manifest are generation logs**: a fold
  takes one generation number N for the planet and writes only the
  rows it changes, each table's under ``<table>_delta/gen=N``; no base
  table is rewritten. Readers (``pipeline.read_table``: ``read_tiles``,
  ``open_planet``, the fold's own read of the old tree) resolve the
  base plus the committed generations (those with a ``_SUCCESS``
  marker) latest-generation-wins per (zoom, tile_h), and
  ``pipeline.materialize`` folds a log back into its base
  (``materialize_tiles``, ``resolve_manifest``).
- **the tile tree is spliced, not rebuilt**: the delta's leaf
  aggregate is collected once, the tree rows at its even-zoom ancestor
  ladder are read, and the ladder updates them associatively (counts
  sum, child masks OR, h extents widen, leaf counts grow by the new
  leaves beneath); the ladder rows are the tree's generation, so the
  expensive leaves-from-points aggregation runs on the delta only.
- **tile payloads recompose for DIRTY tiles only** — each delta leaf
  plus its even-zoom ancestor ladder — and so do their manifest rows.
  Work scales with the dirty-tile content, not the planet.

Scale note: every tile-key set of a fold is int64 numpy columns on the
driver — the delta leaf aggregate (``leaf_h``, ``n_count``, ``h_min``,
``h_max``, one Arrow collect) and the dirty (zoom, tile_h) keys, 16
bytes per key, the same order as the dirty-set broadcast every fold
pays. The ladder, the tree-splice aggregation, the defer split and the
per-zoom interval cover are vectorized over them. The exact
restriction to the dirty keys (content, old tree rows) is a broadcast
semi-join, fronted by a per-zoom ``tile_h`` interval cover that pushes
down to parquet row-group stats — content is written tile_h-sorted
within zoom partitions, so most of the planet's row groups are skipped
before the join runs.

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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..manifest import compile_rules
from ..operators.compose import split_tile_keys, tile_keys
from ..operators.content import tile_manifest, zoom_metrics_from_manifest
from ..operators.leaves import build_leaves
from ..session import held_caches, int64_columns, local_frame, persist
from .pipeline import (
    BuildConfig,
    atomic_json_write,
    check_config,
    compose_planet_tiles,
    gen_path,
    generations,
    manifest_input,
    materialize,
    next_generation,
    point_content,
    read_json,
    read_table,
    sorted_points,
    swap_write,
    timed,
    write_lineage,
)


def _append_log(planet_dir: str, record: dict) -> None:
    """Append one record to the planet's ``_compaction.json`` log."""
    log_path = os.path.join(planet_dir, "_compaction.json")
    atomic_json_write(log_path, read_json(log_path, []) + [record])


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
    tree: DataFrame,
    leaves: dict,
    ladder: Ladder,
    leaf_zoom: int,
) -> DataFrame:
    """Associative DELTA update of the tile tree for an append-only page
    delta, as the tree rows of the ladder keys: counts sum, child masks
    OR, h extents widen, and each interior tile's leaf_count grows by
    the number of brand-new leaves beneath it. Overlaid on ``tree`` (see
    ``pipeline.overlay``) they equal rebuilding the rollup from the
    merged leaf set (all updates are integer sums / min / max / bit_or —
    order-independent), but the work is O(delta ladder): one read of
    ``tree`` at the ladder keys instead of a leaf-set shuffle + an
    explode aggregate over EVERY leaf per fold.

    ``leaves`` holds the delta's ``build_leaves`` columns as int64
    arrays; ``ladder`` is their ancestor ladder (the fold's dirty set),
    aggregated here with numpy.
    """
    leaf_h = leaves["leaf_h"]
    keys = tile_keys(ladder.zoom, ladder.tile_h)
    cols = tree.columns
    old_rows = _rows_at_keys(tree, ladder.zoom, ladder.tile_h).select(*cols)
    old = dict(zip(cols, int64_columns(old_rows)))
    at = np.searchsorted(keys, tile_keys(old["zoom"], old["tile_h"]))
    n_z = leaf_zoom // 2 + 1
    shift = 2 * (leaf_zoom - np.arange(leaf_zoom, -1, -2, dtype=np.int64))[:, None]
    # per-(zoom, leaf) entries: the bit of the z+2 child holding the
    # leaf (none at the leaf level), and whether the leaf is new
    bit = np.where(shift > 0, 1 << ((leaf_h >> np.maximum(shift - 4, 0)) & 15), 0)
    is_new = ~np.isin(tile_keys(leaf_zoom, leaf_h), keys[at])

    def reduce(ufunc, per_entry):
        return ufunc.reduceat(per_entry.ravel()[ladder.order], ladder.starts)

    def tiled(a):
        return np.broadcast_to(a, (n_z, len(leaf_h)))

    # a key without an old row starts empty: zero counts, no extent
    out = {c: np.zeros(len(keys), np.int64) for c in cols}
    out["h_min"][:] = np.iinfo(np.int64).max
    out["h_max"][:] = np.iinfo(np.int64).min
    for c, v in old.items():
        out[c][at] = v
    out["zoom"], out["tile_h"] = ladder.zoom, ladder.tile_h
    out["child_mask"] |= reduce(np.bitwise_or, bit)
    out["n_count"] += reduce(np.add, tiled(leaves["n_count"]))
    out["leaf_count"] += reduce(np.add, tiled(is_new.astype(np.int64)))
    out["h_min"] = np.minimum(out["h_min"], reduce(np.minimum, tiled(leaves["h_min"])))
    out["h_max"] = np.maximum(out["h_max"], reduce(np.maximum, tiled(leaves["h_max"])))
    return local_frame(spark, out, tree.schema)


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


def _rows_at_keys(
    df: DataFrame,
    zoom: np.ndarray,
    tile_h: np.ndarray,
    max_intervals: int = 32,
) -> DataFrame:
    """The rows of a (zoom, tile_h)-keyed table at the given keys (the
    dirty content slice, the old tree rows of a splice), with a
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
    if coarse is not None:
        df = df.where(coarse)
    return df.join(
        F.broadcast(_keys_frame(df.sparkSession, zoom, tile_h)),
        ["zoom", "tile_h"],
        "left_semi",
    )


@held_caches()
def _recompose_dirty_tiles(
    spark: SparkSession,
    planet_dir: str,
    zoom: np.ndarray,
    tile_h: np.ndarray,
    config: BuildConfig,
    compiled,
    gen: int,
    steps: dict | None = None,
) -> bool:
    """Run the build's compose on the dirty keys' (old + delta) content
    slice as read (``compose_features`` clusters it; mixed planets add
    the dirty slice of the unchanged content_mp stage to it), and write
    the recomposed tiles and the keys' manifest rows as generation
    ``gen`` of the ``tiles`` and ``tile_manifest`` logs. The two writes
    are independent consumers of the cached dirty slice and run as
    concurrent jobs. Per-step walls land in ``steps``
    (overlapping).

    Returns whether generation ``gen`` was written: keys without point
    content (all deferred, or zooms the rules render no points at) write
    none — their tiles and counts cannot have changed, and an empty
    generation has no files to read back."""
    if steps is None:
        steps = {}
    if not len(zoom):
        return False
    mixed = os.path.isdir(os.path.join(planet_dir, "content_mp"))
    dirty = _keys_frame(spark, zoom, tile_h)
    # the count materializes the cache ONCE so the two concurrent
    # consumers below (tile and manifest writes) both read it instead of
    # racing to recompute the scan + semi-join
    dirty_content = persist(
        _rows_at_keys(
            spark.read.parquet(os.path.join(planet_dir, "content")), zoom, tile_h
        )
    )
    if not timed(steps, "dirty_cluster", dirty_content.count):
        # no point content at any key: multi-point content alone never
        # changes under a page delta, so every such tile is unchanged
        return False
    mp_dirty = None
    if mixed:
        # build_planet's mixed compose, restricted to the dirty keys:
        # their (unchanged) multi-point rows compose with the points
        mp_dirty = persist(
            spark.read.parquet(os.path.join(planet_dir, "content_mp")).join(
                F.broadcast(dirty), ["zoom", "tile_h"], "left_semi"
            )
        )
    recomposed = compose_planet_tiles(dirty_content, mp_dirty, compiled, config)

    def _gen_write() -> None:
        recomposed.write.mode("overwrite").partitionBy("zoom").parquet(
            gen_path(planet_dir, "tiles", gen)
        )

    # the keys' new per-tile counts (one row per dirty key with
    # content); resolve_manifest folds them into the base manifest
    # and rewrites the zoom metrics
    def _manifest_metrics() -> None:
        (
            tile_manifest(manifest_input(dirty_content, mp_dirty))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(gen_path(planet_dir, "tile_manifest", gen))
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_gen = pool.submit(timed, steps, "recompose", _gen_write)
        f_man = pool.submit(timed, steps, "manifest_metrics", _manifest_metrics)
        f_gen.result()
        f_man.result()
    return True


@held_caches()
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

    Every table the fold changes by key gets one generation ``gen``: the
    spliced tree rows of the dirty ladder in ``tile_tree_delta``, the
    recomposed tiles in ``tiles_delta`` and their per-tile counts in
    ``tile_manifest_delta``; no base table is rewritten. Unless
    ``defer_manifest`` (streaming drains), ``resolve_manifest`` then
    folds the manifest log so the base manifest and zoom metrics are
    current on return; with it, they serve their pre-drain state until
    ``resolve_manifest`` runs (run_incremental_build calls it when the
    drain ends), the same staleness contract as _deferred_dirty.

    Returns a summary dict (generation, dirty tile count, delta rows).
    A delta with no geo points writes nothing and logs ``gen: None``; so
    does the recompose when no dirty tile left after the deferral holds
    point content (no ``tiles_delta`` generation is written, only the
    tree's).
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
    gen = next_generation(planet_dir)

    def _log_summary(summary: dict) -> dict:
        if not defer_manifest:
            timed(
                steps, "manifest_metrics", lambda: resolve_manifest(spark, planet_dir)
            )
        summary["wall_sec"] = round(time.time() - t0, 3)
        summary["steps"] = steps
        if stream_batch_id is not None:
            summary["stream_batch_id"] = stream_batch_id
        _append_log(planet_dir, summary)
        return summary

    # 1. delta points (same fused extract+featureize+sort kernel as the
    #    points_sorted stage), persisted — three derivations read it,
    #    and delta batches are micro-batch sized by design. ONE Arrow
    #    collect of the delta leaf aggregate materializes it and feeds
    #    the row count, the dirty set (2. each leaf's even-zoom ancestor
    #    ladder) and the tree splice
    lz = config.leaf_zoom
    delta_points = persist(sorted_points(delta_pages, config))
    leaf_agg = build_leaves(delta_points, lz).select(*_LEAF_COLS)
    leaves = dict(
        zip(_LEAF_COLS, timed(steps, "delta_points", lambda: int64_columns(leaf_agg)))
    )
    if not len(leaves["leaf_h"]):
        # no geo mention in the delta: nothing is dirty, so the fold
        # writes no generation (an empty one has no files to read back)
        return _log_summary(
            {"gen": None, "delta_rows": 0, "dirty_tiles": 0, "deferred_tiles": 0}
        )
    ladder = timed(steps, "dirty_set", lambda: _ladder(leaves["leaf_h"], lz))
    n_dirty = len(ladder.zoom)

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
    #    leaf-set shuffle + explode rollup over every leaf; the ladder
    #    rows are the tree's generation
    def _tree_task() -> None:
        tree = read_table(spark, planet_dir, "tile_tree")
        _tree_delta_splice(spark, tree, leaves, ladder, lz).coalesce(1).write.mode(
            "overwrite"
        ).parquet(gen_path(planet_dir, "tile_tree", gen))

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

        # 5+6. recompose the (non-deferred) dirty tiles and log their
        #      manifest rows — needs the content append committed first (the
        #      dirty slice must include the delta's own content rows)
        f_content.result()
        wrote = _recompose_dirty_tiles(
            spark, planet_dir, ladder.zoom[undeferred], ladder.tile_h[undeferred],
            config, compiled, gen, steps=steps,
        )
        f_tree.result()
        f_points.result()
        if defer_zoom_below is not None:
            f_park.result()
    return _log_summary(
        {
            "gen": gen if wrote else None,
            "delta_rows": int(leaves["n_count"].sum()),
            "dirty_tiles": n_dirty,
            "deferred_tiles": deferred_n,
        }
    )


def read_tiles(spark: SparkSession, planet_dir: str) -> DataFrame:
    """Serving view over base tiles + compaction generations:
    latest-generation-wins per (zoom, tile_h) (``pipeline.read_table``
    for ``tiles``).

    Tile-lookup predicates (serve.py's pushed h-range filters) apply
    to every generation's scan BEFORE the per-tile window runs, so a
    single-tile fetch reads a handful of rows regardless of how many
    generations exist. ``materialize_tiles`` folds generations back
    into the base when the delta count warrants it.

    With ``defer_zoom_below`` compaction, low-zoom overview tiles serve
    their pre-deferral payloads until ``flush_deferred`` runs.
    """
    return read_table(spark, planet_dir, "tiles")


def resolve_manifest(spark: SparkSession, planet_dir: str) -> int:
    """Fold the ``tile_manifest_delta`` generations into the base
    tile_manifest — latest-generation-wins per (zoom, tile_h), the
    discipline of every logged table — and recompute zoom_metrics from
    the resolved table. O(planet tiles) once per call: once per fold
    without ``defer_manifest``, once per drain with it. Returns the
    number of log rows folded (0 = nothing to do). Idempotent: a crash
    before the log removal re-folds the same rows to the same result
    (each key's latest generation is deterministic)."""
    gens = generations(planet_dir, "tile_manifest")
    n = materialize(spark, planet_dir, "tile_manifest")
    if gens:
        # the per-zoom rollup is ~a dozen rows: collect it, write it back
        # as a driver-local frame in one file
        metrics = zoom_metrics_from_manifest(
            spark.read.parquet(os.path.join(planet_dir, "tile_manifest"))
        )
        metrics_path = os.path.join(planet_dir, "zoom_metrics")
        swap_write(
            local_frame(spark, metrics.collect(), metrics.schema).coalesce(1), metrics_path
        )
        write_lineage(metrics_path, compaction_gen=gens[-1])
    return n


def flush_deferred(
    spark: SparkSession, planet_dir: str, config: BuildConfig | None = None,
    defer_manifest: bool = False,
) -> int:
    """Fold the accumulated low-zoom deferred dirty set (from
    ``compact_planet(..., defer_zoom_below=z)``) into a new tile
    generation; returns the number of flushed tiles. One flush pays the
    low-zoom recompose ONCE for every batch deferred since the last
    flush. ``defer_manifest`` as in ``compact_planet``."""
    ddir = os.path.join(planet_dir, "_deferred_dirty")
    n = 0
    if os.path.isdir(ddir):
        config = config or BuildConfig()
        check_config(planet_dir, config, "flush")
        pending = np.unique(
            tile_keys(*int64_columns(spark.read.parquet(ddir).select("zoom", "tile_h")))
        )
        n = len(pending)
        if n:
            gen = next_generation(planet_dir)
            t0 = time.time()
            wrote = _recompose_dirty_tiles(
                spark, planet_dir, *split_tile_keys(pending), config,
                compile_rules(config.manifest), gen,
            )
            _append_log(
                planet_dir,
                {"gen": gen if wrote else None, "flush": True, "flushed_tiles": n,
                 "wall_sec": round(time.time() - t0, 3)},
            )
        shutil.rmtree(ddir)
    if not defer_manifest:
        resolve_manifest(spark, planet_dir)
    return n


def materialize_tiles(
    spark: SparkSession,
    planet_dir: str,
    config: BuildConfig | None = None,
) -> int:
    """Fold every logged table's generations into its base (the LSM
    'major compaction': ``tiles`` and ``tile_tree`` here, the manifest
    and zoom metrics through ``resolve_manifest``); returns the number
    of folded tile generations. Flushes any deferred low-zoom dirty set
    first so the materialized base is exact."""
    flush_deferred(spark, planet_dir, config, defer_manifest=True)
    n = len(generations(planet_dir, "tiles"))
    materialize(spark, planet_dir, "tiles", partition_by="zoom")
    materialize(spark, planet_dir, "tile_tree")
    resolve_manifest(spark, planet_dir)
    return n
