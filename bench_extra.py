#!/usr/bin/env python3
"""Supplementary benchmarks for OPTIMIZATION_r06 — bench.py is frozen for
driver measurement this round, so every NEW bench key lives here.

Subcommands (python bench_extra.py <cmd>):

  serve    — VERDICT r5 item 4: tile-serve point-lookup latency against a
             compacted planet (warm session, N random z12 tiles), reported
             as serve_tile_p50_ms / p99 next to a plan check that the scan
             stays partition-pruned (zoom partition filter + tile_h
             row-group predicate). The same sample through tile_lookup
             over open_planet's tiles (the served path, no Spark job)
             reports serve_open_p50_ms / p99, the row groups whose tile_h
             column one lookup reads, and the wall of building the serving
             index. Reference figure: 20-50 ms/tile
             (BASELINE.md, /root/reference/docs/hilbert.md:11).
  compact  — per-step instrumented compaction folds at a configurable page
             count (PVT_XB_PAGES, default 100k) — the iteration harness the
             round-6 compaction work was measured with.
  norm16   — VERDICT r5 item 2: recompute <key>_norm16 = wall /
             calib_par16_sec for a bench JSON produced by bench.py
             (stdin or argv path). Cross-round comparisons of 32-core
             walls should use these, not the single-core _norm.
  ivf      — step-timed ivf_index_build + pq_train breakdown.

Prints one JSON line per subcommand.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _spark(cpus: int | None = None, app: str = "pvt-bench-extra"):
    from pvt_spark.session import get_spark

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", app_name=app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_serve() -> dict:
    """Build (or reuse PVT_XB_PLANET) a planet, fold one 0.5% delta so the
    serve path exercises the compaction generation view, then time N
    point lookups through a pushed-predicate scan and through
    operators/serve.tile_lookup over open_planet's served tiles."""
    from pyspark.sql import functions as F

    from pvt_spark.operators import serve
    from pvt_spark.plans.compaction import compact_planet, read_tiles
    from pvt_spark.plans.pipeline import BuildConfig, build_planet
    from pvt_spark.sources.pages import synthesize_pages
    from pvt_spark.tile import Tile

    n_pages = int(os.environ.get("PVT_XB_PAGES", "1000000"))
    n_lookups = int(os.environ.get("PVT_XB_LOOKUPS", "100"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(max(1, cpus // 2), app="pvt-serve-bench")
    tmp = tempfile.mkdtemp(prefix="pvt_serve_")
    out: dict = {"serve_pages": n_pages, "serve_lookups": n_lookups}
    try:
        planet = os.path.join(tmp, "planet")
        pages = synthesize_pages(spark, n_pages, seed=42)
        build_planet(spark, pages, planet, BuildConfig(leaf_zoom=12))
        delta = synthesize_pages(
            spark, max(500, n_pages // 200), seed=777, start=n_pages
        )
        compact_planet(spark, planet, delta, BuildConfig(leaf_zoom=12))
        tiles = read_tiles(spark, planet)

        # deterministic pseudo-random sample of existing z12 tiles
        sample = [
            (int(r.zoom), int(r.tile_h))
            for r in tiles.where("zoom = 12")
            .select("zoom", "tile_h")
            .orderBy(F.pmod(F.xxhash64("tile_h"), F.lit(100_000)), "tile_h")
            .limit(n_lookups)
            .collect()
        ]
        # warm one lookup (plan compile), then time each individually
        base = spark.read.parquet(os.path.join(planet, "tiles"))

        def lookup(z, th):
            return (
                base.where((F.col("zoom") == z) & (F.col("tile_h") == th))
                .select("payload_size")
                .collect()
            )

        lookup(*sample[0])
        walls = []
        for z, th in sample:
            t0 = time.time()
            rows = lookup(z, th)
            walls.append((time.time() - t0) * 1000)
            assert rows, f"tile ({z},{th}) missing"
        walls.sort()
        out["serve_tile_p50_ms"] = round(walls[len(walls) // 2], 1)
        out["serve_tile_p99_ms"] = round(walls[min(len(walls) - 1, int(len(walls) * 0.99))], 1)
        out["serve_tile_mean_ms"] = round(sum(walls) / len(walls), 1)
        # compaction-view lookup (generation resolution on top)
        t0 = time.time()
        z, th = sample[0]
        tiles.where((F.col("zoom") == z) & (F.col("tile_h") == th)).select(
            "payload_size"
        ).collect()
        out["serve_tile_gen_view_ms"] = round((time.time() - t0) * 1000, 1)
        # plan check: the scan must keep the zoom partition filter and the
        # pushed tile_h predicate
        plan = (
            base.where((F.col("zoom") == 12) & (F.col("tile_h") == sample[0][1]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        out["serve_plan_partition_pruned"] = "PartitionFilters: [isnotnull(zoom" in plan or "zoom#" in plan.split("PartitionFilters")[-1][:200]
        out["serve_plan_pushed_tile_h"] = "PushedFilters: [IsNotNull(tile_h)" in plan or "EqualTo(tile_h" in plan

        # served path: the same sample through tile_lookup over the
        # tiles open_planet returns (in-process pyarrow read, no job)
        t0 = time.time()
        serve._index_planet(planet)
        out["serve_index_open_ms"] = round((time.time() - t0) * 1000, 1)
        served = serve.open_planet(spark, planet)["tiles"]
        index = serve._SERVED[served]

        def served_lookup(z, th):
            t = Tile.from_zh(z, th)
            return serve.tile_lookup(served, z, t.x, t.y).select("payload_size").collect()

        served_lookup(*sample[0])
        walls, read0 = [], index.row_groups_read
        for z, th in sample:
            t0 = time.time()
            rows = served_lookup(z, th)
            walls.append((time.time() - t0) * 1000)
            assert rows, f"tile ({z},{th}) missing"
        walls.sort()
        out["serve_open_p50_ms"] = round(walls[len(walls) // 2], 1)
        out["serve_open_p99_ms"] = round(walls[min(len(walls) - 1, int(len(walls) * 0.99))], 1)
        out["serve_row_groups_per_lookup"] = round((index.row_groups_read - read0) / len(sample), 2)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def cmd_compact() -> dict:
    """Instrumented streaming-cadence compaction at PVT_XB_PAGES pages:
    base build + PVT_XB_BATCHES micro-batch folds (0.1% each, defer<8,
    flush every 5) through run_incremental_build, reporting total wall
    and per-step medians — the bench.py compact_stream shape at an
    iteration-friendly scale."""
    from pvt_spark.plans.pipeline import BuildConfig, build_planet
    from pvt_spark.sources.pages import synthesize_pages
    from pvt_spark.streaming.incremental import run_incremental_build

    n_pages = int(os.environ.get("PVT_XB_PAGES", "100000"))
    n_batches = int(os.environ.get("PVT_XB_BATCHES", "5"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(max(1, cpus // 2), app="pvt-compact-bench")
    tmp = tempfile.mkdtemp(prefix="pvt_xbc_")
    out: dict = {"compact_pages": n_pages, "compact_batches": n_batches}
    try:
        planet = os.path.join(tmp, "planet")
        pages = synthesize_pages(spark, n_pages, seed=42)
        t0 = time.time()
        build_planet(spark, pages, planet, BuildConfig(leaf_zoom=12))
        out["base_build_sec"] = round(time.time() - t0, 3)
        src = os.path.join(tmp, "src")
        bp = max(200, n_pages // 1000)
        for b in range(n_batches):
            synthesize_pages(
                spark, bp, seed=900 + b, start=3 * n_pages + b * bp, partitions=1
            ).write.mode("append").parquet(src)
        t0 = time.time()
        run_incremental_build(
            spark, src, planet, os.path.join(tmp, "ck"),
            BuildConfig(leaf_zoom=12),
            defer_zoom_below=8, flush_every=5, max_files_per_trigger=1,
        )
        out["folds_total_sec"] = round(time.time() - t0, 3)
        with open(os.path.join(planet, "_compaction.json")) as f:
            recs = [r for r in json.load(f) if "steps" in r]
        names = sorted({k for r in recs for k in r["steps"]})
        out["fold_step_medians"] = {
            n: sorted(r["steps"].get(n, 0.0) for r in recs)[len(recs) // 2]
            for n in names
        }
        out["fold_walls"] = [r["wall_sec"] for r in recs]
        flushes = []
        with open(os.path.join(planet, "_compaction.json")) as f:
            for r in json.load(f):
                if r.get("flush"):
                    flushes.append(r["wall_sec"])
        out["flush_walls"] = flushes
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def cmd_norm16(path: str | None) -> dict:
    raw = open(path).read() if path else sys.stdin.read()
    d = json.loads(raw)
    q = d.get("queries", d)
    calib = q.get("calib_par16_sec")
    out = {"calib_par16_sec": calib}
    if not calib:
        return out
    for key in (
        "tile_build", "tile_build_mixed", "compact_halfpct_delta",
        "compact_deferred_halfpct", "compact_stream_10batch",
        "cc_1m8_edges_sec", "ivf_100k_train_assign_sec", "ivf_index_build_sec",
        "pq_100k_train_sec", "q56_streaming_asof",
    ):
        if isinstance(q.get(key), (int, float)):
            out[f"{key}_norm16"] = round(q[key] / calib, 2)
    return out


def cmd_ivf() -> dict:
    """Step-timed ivf_index_build at the bench constants (100k x 64d,
    fit_fraction 0.1, pq_m 8)."""
    from pvt_spark.operators.ann import ivf_index_build

    spark = _spark(app="pvt-ivf-bench")
    out: dict = {}
    try:
        n_vec, dim, n_clusters = 100_000, 64, 1000
        center = (
            f"cast(pmod(xxhash64(id % {n_clusters}, j, 7), 1000) as double)"
            " / 500.0 - 1.0"
        )
        noise = (
            "(cast(pmod(xxhash64(id, j, 8), 1000) as double) / 500.0 - 1.0) * 0.15"
        )
        vecs = (
            spark.range(n_vec)
            .selectExpr(
                "id as vec_id",
                f"transform(sequence(0, {dim - 1}), j -> {center} + {noise}) as raw",
            )
            .selectExpr(
                "vec_id",
                "transform(raw, x -> x / sqrt(aggregate(transform(raw, y -> y * y),"
                " 0.0D, (a, v) -> a + v))) as vec",
            )
            .localCheckpoint(eager=True)
        )
        idx = tempfile.mkdtemp(prefix="pvt_xb_ivf_")
        try:
            t0 = time.time()
            desc = ivf_index_build(vecs, idx, fit_fraction=0.1, pq_m=8)
            out["ivf_index_build_sec"] = round(time.time() - t0, 3)
            out["ivf_index_steps"] = desc.get("steps", {})
        finally:
            shutil.rmtree(idx, ignore_errors=True)
    finally:
        spark.stop()
    return out


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "norm16"
    if cmd == "serve":
        out = cmd_serve()
    elif cmd == "compact":
        out = cmd_compact()
    elif cmd == "ivf":
        out = cmd_ivf()
    elif cmd == "norm16":
        out = cmd_norm16(sys.argv[2] if len(sys.argv) > 2 else None)
    else:
        raise SystemExit(f"unknown subcommand {cmd}")
    print(json.dumps({"bench_extra": cmd, **out}))


if __name__ == "__main__":
    main()
