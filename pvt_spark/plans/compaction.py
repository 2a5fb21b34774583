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
- **the tile tree merges associatively at the LEAF level** (counts
  sum, h_min/h_max combine) and interior zooms rebuild from the merged
  leaf set: leaves are tile-bounded (never point-bounded), so the
  16x-shrinking rollup costs seconds regardless of planet size, while
  the expensive leaves-from-points aggregation runs on the delta only.
- **tile payloads recompose for DIRTY tiles only** — the invalidation
  set from ``streaming.incremental.dirty_tiles_for_points`` (each
  delta point's leaf + even-zoom ancestor ladder). Recomposed tiles
  land in a new ``tiles_delta/gen=N`` generation; ``read_tiles``
  resolves latest-generation-wins per (zoom, tile_h). Work scales
  with the dirty-tile content, not the planet.

Scale note on the dirty-content scan: the exact dirty-key restriction
is a broadcast semi-join (the dirty set is tile-bounded), fronted by a
coarse per-zoom ``tile_h BETWEEN min AND max`` predicate that DOES
push down to parquet row-group stats — content is written tile_h-
sorted within zoom partitions, so most of the planet's row groups are
skipped before the join runs.

Equivalence contract (tested): base build + N compactions produces
md5-identical tile payloads, an identical tree, and an identical
manifest to one full rebuild over the concatenated pages.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..manifest import compile_rules
from ..operators.content import tile_manifest
from ..operators.leaves import build_leaves
from ..operators.tree import build_tile_tree
from ..session import local_frame
from ..streaming.incremental import dirty_tiles_for_points
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
    # leaf_count is derived (1 per leaf row), not an entity count —
    # build_tile_tree re-adds it
    return [c for c in cols if c.endswith("_count") and c != "leaf_count"]


def merge_leaf_levels(
    old_leaf_level: DataFrame, delta_leaves: DataFrame
) -> DataFrame:
    """Associative merge of two leaf aggregates -> build_leaves schema.

    ``old_leaf_level`` is the tree's zoom==leaf_zoom slice (tile_h key);
    ``delta_leaves`` is ``build_leaves`` output (leaf_h key). Count
    columns missing on either side (entity pivots from mixed builds)
    are zero-filled so a points-only delta merges into a mixed base.
    """
    old = old_leaf_level.select(
        F.col("tile_h").alias("leaf_h"),
        *_entity_counts(old_leaf_level.columns),
        "h_min",
        "h_max",
    )
    count_cols = sorted(
        set(_entity_counts(old.columns)) | set(_entity_counts(delta_leaves.columns))
    )

    def align(df: DataFrame) -> DataFrame:
        cols = [F.col("leaf_h")]
        for c in count_cols:
            cols.append(
                F.col(c).alias(c) if c in df.columns else F.lit(0).cast("long").alias(c)
            )
        return df.select(*cols, "h_min", "h_max")

    return (
        align(old)
        .unionByName(align(delta_leaves))
        .groupBy("leaf_h")
        .agg(
            *[F.sum(c).alias(c) for c in count_cols],
            F.min("h_min").alias("h_min"),
            F.max("h_max").alias("h_max"),
        )
    )


def _tree_delta_splice(
    spark: SparkSession,
    old_tree: DataFrame,
    delta_leaf_rows: list,
    dirty_keys: list,
    leaf_zoom: int,
) -> DataFrame:
    """Associative DELTA update of the tile tree for an append-only page
    delta: counts sum, child masks OR, h extents widen, and each
    interior tile's leaf_count grows by the number of brand-new leaves
    beneath it. Exactly equal to rebuilding the rollup from the merged
    leaf set (all updates are integer sums / min / max / bit_or —
    order-independent), but the work is O(delta ladder) + two scans of
    the old tree instead of a leaf-set shuffle + a 7-level explode
    aggregate over EVERY leaf per fold.

    ``delta_leaf_rows`` are pre-collected ``build_leaves`` rows (micro-
    batch sized; the caller enforces the collect cap and falls back to
    the full rebuild above it — the same rows also derive the dirty
    set ``dirty_keys``, the sorted ladder keys of those leaves, so the
    fold pays ONE leaf collect total).
    """
    rows = delta_leaf_rows
    zooms = list(range(leaf_zoom, -1, -2))
    dkeys_df = local_frame(spark, dirty_keys, "zoom int, tile_h long")
    exist = {
        (r.zoom, r.tile_h)
        for r in old_tree.join(
            F.broadcast(dkeys_df), ["zoom", "tile_h"], "left_semi"
        )
        .select("zoom", "tile_h")
        .collect()
    }
    # driver-side ladder aggregation of the delta leaves
    acc: dict[tuple[int, int], list] = {}  # key -> [mask, n, leaf_inc, hmin, hmax]
    for r in rows:
        lh, n, hmin, hmax = int(r.leaf_h), int(r.n_count), int(r.h_min), int(r.h_max)
        is_new = (leaf_zoom, lh) not in exist
        for z in zooms:
            key = (z, lh >> (2 * (leaf_zoom - z)))
            a = acc.get(key)
            if a is None:
                a = acc[key] = [0, 0, 0, hmin, hmax]
            if z == leaf_zoom:
                a[2] = 1 if is_new else 0
            else:
                a[0] |= 1 << ((lh >> (2 * (leaf_zoom - z - 2))) & 15)
                a[2] += 1 if is_new else 0
            a[1] += n
            a[3] = min(a[3], hmin)
            a[4] = max(a[4], hmax)
    count_cols = _entity_counts(old_tree.columns)
    merge_rows = [
        (z, th, a[0], a[1], a[2], a[3], a[4])
        for (z, th), a in acc.items()
        if (z, th) in exist
    ]
    new_rows = [
        (z, th, a[0], a[1], a[2] if z < leaf_zoom else 1, a[3], a[4])
        for (z, th), a in acc.items()
        if (z, th) not in exist
    ]
    dschema = (
        "zoom int, tile_h long, d_mask int, d_n long, d_leaf long, "
        "d_hmin long, d_hmax long"
    )
    merged = old_tree.join(
        F.broadcast(local_frame(spark, merge_rows, dschema)),
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
    fresh = local_frame(spark, new_rows, dschema).select(
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


def _merge_intervals(hs: list[int], max_intervals: int) -> list[tuple[int, int]]:
    """Cover a sorted unique int list with <= max_intervals closed
    intervals, splitting at the LARGEST gaps (the optimal cover of
    that size: total covered slack = sum of the kept gaps, minimized
    by removing the biggest ones)."""
    if not hs:
        return []
    if len(hs) == 1 or max_intervals <= 1:
        return [(hs[0], hs[-1])]
    gaps = sorted(
        range(1, len(hs)), key=lambda i: hs[i] - hs[i - 1], reverse=True
    )[: max_intervals - 1]
    out = []
    start = 0
    for i in sorted(gaps):
        out.append((hs[start], hs[i - 1]))
        start = i
    out.append((hs[start], hs[-1]))
    return out


def _dirty_content(
    spark: SparkSession,
    content_path: str,
    dirty: DataFrame,
    max_intervals: int = 32,
    collect_cap: int = 200_000,
    n_dirty: int | None = None,
    dirty_keys: list | None = None,
) -> DataFrame:
    """Content rows restricted to the dirty (zoom, tile_h) set, with a
    row-group-skipping coarse predicate in front of the exact broadcast
    semi-join.

    The coarse predicate is per-zoom INTERVAL COVER, not one (min, max)
    range: real dirt is spatially clustered (a re-crawl region), and
    Hilbert clustering makes clustered tiles contiguous in tile_h, so
    up to ``max_intervals`` largest-gap intervals per zoom let parquet
    min/max stats skip the untouched row groups a single world-spanning
    range cannot. Degrades gracefully: uniform dirt collapses back to
    ~the full range (the semi-join stays exact either way), and a dirty
    set above ``collect_cap`` keys skips the driver-side interval pass
    and keeps the one-range form."""
    if dirty_keys is None and n_dirty is not None and n_dirty > collect_cap:
        # above the driver-pass cap: keep the one-range-per-zoom form
        # without collecting the key set (same degradation as before)
        stats = dirty.groupBy("zoom").agg(
            F.min("tile_h").alias("lo"), F.max("tile_h").alias("hi")
        ).collect()
        intervals = {r.zoom: [(r.lo, r.hi)] for r in stats}
    else:
        # caller-held keys (micro-batch folds derive them driver-side)
        # need no job; otherwise ONE collect feeds both the per-zoom
        # ranges and the interval cover. An uncounted set past the cap
        # keeps one range per zoom.
        if dirty_keys is None:
            dirty_keys = [tuple(r) for r in dirty.select("zoom", "tile_h").collect()]
            if n_dirty is None and len(dirty_keys) > collect_cap:
                max_intervals = 1
        by_zoom: dict[int, list[int]] = {}
        for z, th in dirty_keys:
            by_zoom.setdefault(z, []).append(th)
        intervals = {
            z: _merge_intervals(sorted(set(hs)), max_intervals)
            for z, hs in by_zoom.items()
        }
    content = spark.read.parquet(content_path)
    coarse = None
    for z, ivs in intervals.items():
        rng = None
        for lo, hi in ivs:
            q = (F.col("tile_h") >= lo) & (F.col("tile_h") <= hi)
            rng = q if rng is None else (rng | q)
        p = (F.col("zoom") == z) & rng
        coarse = p if coarse is None else (coarse | p)
    if coarse is not None:
        content = content.where(coarse)
    return content.join(F.broadcast(dirty), ["zoom", "tile_h"], "left_semi")


def _recompose_dirty_tiles(
    spark: SparkSession,
    planet_dir: str,
    dirty: DataFrame,
    config: BuildConfig,
    compiled,
    gen: int,
    steps: dict | None = None,
    n_dirty: int | None = None,
    dirty_keys: list | None = None,
    defer_manifest: bool = False,
) -> None:
    """Re-cluster the dirty keys' (old + delta) content in memory (hash
    partition + sort — the compose contract, without the parquet round
    trip the tmp-dir layout paid), run the normal phase-1/phase-2
    compose (mixed planets re-merge the dirty slice of the unchanged
    content_mp stage as geometry chunks), write the result as
    generation ``gen``, and splice the manifest/metrics for exactly the
    keys passed. The gen write and the manifest/metrics splice are
    independent consumers of the materialized dirty cache and run as
    concurrent jobs. Per-step walls land in ``steps`` (overlapping)."""
    if steps is None:
        steps = {}
    mixed = os.path.isdir(os.path.join(planet_dir, "content_mp"))
    content_path = os.path.join(planet_dir, "content")
    delta_dir = os.path.join(planet_dir, "tiles_delta")
    dirty_all = _dirty_content(
        spark, content_path, dirty, n_dirty=n_dirty, dirty_keys=dirty_keys
    )
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
    n_parts = (
        max(8, min(conf_parts, n_dirty // 500 + 1))
        if n_dirty is not None
        else conf_parts
    )
    dirty_sorted = (
        dirty_all.repartition(n_parts, "zoom", "tile_h")
        .sortWithinPartitions("zoom", "tile_h")
        .persist()
    )
    timed(steps, "dirty_cluster", dirty_sorted.count)
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
    A delta with no geo points writes nothing and logs ``gen: None``.
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
    # micro-batch deltas (the overwhelmingly common fold): ONE collect of
    # the delta leaf aggregate feeds the dirty set (derived in Python —
    # the exact distinct-ancestor-ladder set dirty_tiles_for_points
    # computes, minus its two shuffle jobs) AND the tree delta splice.
    leaf_rows = (
        build_leaves(delta_points, config.leaf_zoom)
        .select("leaf_h", "n_count", "h_min", "h_max")
        .collect()
        if n_delta <= 200_000
        else None
    )
    lz = config.leaf_zoom
    dirty_keys = None if leaf_rows is None else sorted(
        {
            (z, int(r.leaf_h) >> (2 * (lz - z)))
            for z in range(lz, -1, -2)
            for r in leaf_rows
        }
    )
    _mark("delta_points")

    # Steps 2-7 below are a dependency DAG, not a chain: the tree
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
    #    leaf-set shuffle + explode rollup over every leaf. Deltas past
    #    the driver cap fall back to the associative leaf merge + full
    #    interior rebuild (identical result, test-pinned equivalence).
    def _tree_task() -> None:
        tree_path = os.path.join(planet_dir, "tile_tree")
        old_tree = spark.read.parquet(tree_path)
        if leaf_rows is not None:
            new_tree = _tree_delta_splice(spark, old_tree, leaf_rows, dirty_keys, lz)
        else:
            new_tree = build_tile_tree(
                merge_leaf_levels(
                    old_tree.where(F.col("zoom") == config.leaf_zoom),
                    build_leaves(delta_points, config.leaf_zoom),
                ),
                config.leaf_zoom,
            )
        swap_write(new_tree, tree_path)
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

    deferred_n = 0
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_tree = pool.submit(timed, steps, "tree_merge", _tree_task)
        f_content = pool.submit(timed, steps, "content_append", _content_task)
        f_points = pool.submit(timed, steps, "points_append", _points_task)

        # 2. invalidation set: tile-bounded, reused as broadcast both
        #    sides. Micro-batch deltas derive it in Python off the one
        #    leaf collect (a local relation broadcasts the same as a
        #    computed frame); over-cap deltas keep the Spark derivation.
        t_step = time.time()
        defer_z = -1 if defer_zoom_below is None else int(defer_zoom_below)
        dirty_cached = None
        if dirty_keys is not None:
            n_dirty = len(dirty_keys)
            dirty = local_frame(spark, dirty_keys, "zoom int, tile_h long")
        else:
            dirty_cached = dirty_tiles_for_points(
                delta_points, config.leaf_zoom
            ).persist()
            dirty = dirty_cached
            n_dirty = int(dirty.count())
        steps["dirty_set"] = round(time.time() - t_step, 3)

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
        dirty_now = dirty
        dirty_now_keys = dirty_keys
        if defer_zoom_below is not None:
            ddir = os.path.join(planet_dir, "_deferred_dirty")
            if leaf_rows is not None:
                deferred_keys = [k for k in dirty_keys if k[0] < defer_z]
                deferred_n = len(deferred_keys)
                dirty_now_keys = [k for k in dirty_keys if k[0] >= defer_z]
                dirty_now = local_frame(
                    spark, dirty_now_keys, "zoom int, tile_h long"
                )
                to_park = local_frame(spark, deferred_keys, "zoom int, tile_h long")
            else:
                deferred_n = int(
                    dirty.where(F.col("zoom") < defer_zoom_below).count()
                )
                dirty_now = dirty.where(F.col("zoom") >= defer_zoom_below)
                to_park = dirty.where(F.col("zoom") < defer_zoom_below)
            # the parked write blocks nothing downstream — overlap it
            f_park = pool.submit(
                timed,
                steps,
                "defer_split",
                lambda: (
                    to_park.withColumn("gen", F.lit(gen))
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(ddir)
                ),
            )

        # 5+6. recompose the (non-deferred) dirty tiles and splice
        #      metadata — needs the content append committed first (the
        #      dirty slice must include the delta's own content rows)
        f_content.result()
        _recompose_dirty_tiles(
            spark, planet_dir, dirty_now, config, compiled, gen, steps=steps,
            n_dirty=n_dirty - deferred_n, dirty_keys=dirty_now_keys,
            defer_manifest=defer_manifest,
        )
        f_tree.result()
        f_points.result()
        if defer_zoom_below is not None:
            f_park.result()
    delta_points.unpersist()
    if dirty_cached is not None:
        dirty_cached.unpersist()

    return _log_summary(
        {
            "gen": gen,
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
    pending = (
        spark.read.parquet(ddir).select("zoom", "tile_h").dropDuplicates(
            ["zoom", "tile_h"]
        ).persist()
    )
    n = pending.count()
    if n == 0:
        pending.unpersist()
        shutil.rmtree(ddir)
        return 0
    gen = max(generations(planet_dir), default=0) + 1
    compiled = compile_rules(config.manifest)
    t0 = time.time()
    _recompose_dirty_tiles(
        spark, planet_dir, pending, config, compiled, gen, n_dirty=n,
        defer_manifest=defer_manifest,
    )
    pending.unpersist()
    shutil.rmtree(ddir)
    _append_log(
        planet_dir,
        {"gen": gen, "flush": True, "flushed_tiles": n,
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
