#!/usr/bin/env python3
"""Benchmark harness: headline tile-build + query throughput at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric is the end-to-end tile-build wall time over a
synthetic pages table (pages -> extract -> geotag -> hilbert ->
leaves/tree -> pyramid content -> compose), reported alongside
pages/sec and tiles/sec in the "queries" map, plus a subset of the
oracle queries for plan-regression tracking.

Set PVT_BENCH_SCALING=1 to also run the build at local[8] and
local[32] and report scaling efficiency (writes BENCH/BASELINE.md
numbers; see BASELINE.md north-rule note).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time


def _build_once(master: str, n_pages: int, tmp_root: str) -> dict:
    """Materialize the synthetic pages table (untimed — production reads an
    existing Iceberg/parquet table), then time the engine build."""
    from pvt_spark.plans.pipeline import BuildConfig, build_planet
    from pvt_spark.session import get_spark
    from pvt_spark.sources.pages import synthesize_pages

    spark = get_spark(master=master, app_name=f"pvt-bench-{master}")
    spark.sparkContext.setLogLevel("ERROR")
    planet = os.path.join(tmp_root, f"planet_{master.replace('[', '_').replace(']', '')}")
    shutil.rmtree(planet, ignore_errors=True)
    pages_path = os.path.join(tmp_root, f"pages_{n_pages}")
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        synthesize_pages(spark, n_pages, seed=42).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    t0 = time.time()
    build_planet(spark, pages, planet, BuildConfig(leaf_zoom=12))
    # stage row counts come from the lineage sidecars (parquet-footer
    # sums written at commit time) — no extra Spark jobs in the timing
    def _rows(name: str) -> int:
        with open(os.path.join(planet, name, "_lineage.json")) as f:
            return json.load(f)["row_count"]

    n_tiles = _rows("tiles")
    n_points = _rows("points_sorted")
    wall = time.time() - t0
    spark.stop()
    return {
        "wall_sec": wall,
        "n_pages": n_pages,
        "n_points": n_points,
        "n_tiles": n_tiles,
        "pages_per_sec": n_pages / wall,
        "tiles_per_sec": n_tiles / wall,
    }


def _box_calibration() -> dict[str, float]:
    """Fixed, engine-independent microbenchmarks that fingerprint the
    box this run measured on. Round-over-round BENCH comparisons are
    only meaningful modulo these: the same engine commit has measured
    2-3x apart across rounds on identical inputs purely from host/VM
    drift (hypervisor neighbors, scheduler wakeup latency). ~5s total.

    - calib_hilbert_sec: single-core order-32 Hilbert encode of 4M
      points (the engine's hottest numpy kernel) — host CPU speed.
    - calib_pingpong_us: pipe round-trip between two processes —
      scheduler wakeup latency (Spark<->Python worker traffic analog).
    - calib_par16_sec: 16 concurrent processes each encoding 1M points
      — parallel CPU availability under the VM's real scheduling.
    """
    import multiprocessing as mp

    import numpy as np

    from pvt_spark import hilbert as hb

    x = (np.arange(4_000_000, dtype=np.uint64) * np.uint64(2654435761)) & np.uint64(
        0xFFFFFFFF
    )
    y = (np.arange(4_000_000, dtype=np.uint64) * np.uint64(2246822519)) & np.uint64(
        0xFFFFFFFF
    )
    t0 = time.time()
    hb.xy2h(x, y, 32)
    calib_hilbert = time.time() - t0

    r1, w1 = os.pipe()
    r2, w2 = os.pipe()
    pid = os.fork()
    n_iter = 5000
    if pid == 0:
        for _ in range(n_iter):
            os.read(r1, 1)
            os.write(w2, b"x")
        os._exit(0)
    t0 = time.time()
    for _ in range(n_iter):
        os.write(w1, b"x")
        os.read(r2, 1)
    pingpong_us = (time.time() - t0) / n_iter * 1e6
    os.waitpid(pid, 0)
    for fd in (r1, w1, r2, w2):
        os.close(fd)

    t0 = time.time()
    with mp.Pool(16) as pool:
        pool.map(_calib_par_task, range(16))
    calib_par = time.time() - t0
    return {
        "calib_hilbert_sec": round(calib_hilbert, 3),
        "calib_pingpong_us": round(pingpong_us, 1),
        "calib_par16_sec": round(calib_par, 3),
    }


def _calib_hilbert_once() -> float:
    """The single-core Hilbert fingerprint alone (sampled before each
    headline build run)."""
    import numpy as np

    from pvt_spark import hilbert as hb

    x = (np.arange(4_000_000, dtype=np.uint64) * np.uint64(2654435761)) & np.uint64(
        0xFFFFFFFF
    )
    y = (np.arange(4_000_000, dtype=np.uint64) * np.uint64(2246822519)) & np.uint64(
        0xFFFFFFFF
    )
    t0 = time.time()
    hb.xy2h(x, y, 32)
    return round(time.time() - t0, 2)


def _calib_par_task(_: int) -> None:
    import numpy as np

    from pvt_spark import hilbert as hb

    x = (np.arange(1_000_000, dtype=np.uint64) * np.uint64(2654435761)) & np.uint64(
        0xFFFFFFFF
    )
    hb.xy2h(x, x[::-1].copy(), 32)


def _streaming_rate_bench(
    spark, tmp_root: str, n_batches: int = 12, rows_per_batch: int = 50_000,
    n_keys: int = 2_000,
) -> dict:
    """Rate-controlled stateful-streaming throughput (VERDICT r4 item 4):
    N fixed-size micro-batches (maxFilesPerTrigger=1 + availableNow =
    exactly one batch per pre-written file) through asof_join_stream and
    sessionize_stream, reporting rows/sec, median batch wall, output
    rows, and state-store rows — so q56's wall (dominated by replay/
    checkpoint fixed cost) stops reading as operator cost. State-store
    partitions pin to 16 for the streaming session (state tasks are the
    per-batch fixed cost; 128 partitions measured 6x slower on the same
    input with identical results)."""
    import json as _json

    from pvt_spark.streaming.asof import asof_join_stream
    from pvt_spark.streaming.sessions import sessionize_stream

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    base_us = 1_700_000_000_000_000
    out: dict = {
        "streaming_batches": n_batches,
        "streaming_rows_per_batch": rows_per_batch,
    }

    def run(name, src, ck, make_query):
        t0 = time.time()
        q = (
            make_query(
                spark.readStream.schema(
                    "key string, tag int, ts timestamp, id long"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            .writeStream.format("noop")
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        progs = [
            p if isinstance(p, dict) else _json.loads(p.json)
            for p in q.recentProgress
        ]
        data = [p for p in progs if p.get("numInputRows", 0) > 0]
        durs = sorted(p["batchDuration"] for p in data)
        states = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in data
            if p.get("stateOperators")
        ]
        out[f"{name}_wall_sec"] = round(wall, 3)
        out[f"{name}_rows_per_sec"] = round(
            sum(p["numInputRows"] for p in data) / wall, 1
        )
        out[f"{name}_median_batch_ms"] = durs[len(durs) // 2] if durs else None
        out[f"{name}_out_rows"] = sum(
            p.get("sink", {}).get("numOutputRows", 0) for p in data
        )
        out[f"{name}_state_rows_max"] = max(states) if states else 0

    try:
        # tagged as-of stream: hashed keys, 1ms event spacing, watermark
        # trails 2s so most lefts finalize one batch later — steady-state
        # emission, state bounded by n_keys (pending + floor per key)
        src = os.path.join(tmp_root, "rate_asof_src")
        for b in range(n_batches):
            spark.range(rows_per_batch).selectExpr(
                f"cast(pmod(id * 2654435761, {n_keys}) as string) as key",
                "cast(id % 2 as int) as tag",
                f"timestamp_micros({base_us} + cast(({b} * {rows_per_batch}"
                " + id) as bigint) * 1000) as ts",
                f"{b} * {rows_per_batch} + id as id",
            ).coalesce(1).write.mode("append").parquet(src)
        run(
            "streaming_asof",
            src,
            os.path.join(tmp_root, "rate_asof_ck"),
            lambda s: asof_join_stream(s, watermark="2 seconds"),
        )

        # sessionize: hashed key arrivals are geometric (mean ~n_keys ms
        # apart per key), so with gap = 5s a realistic fraction of
        # per-key gaps exceed it — sessions close every batch instead of
        # one unbounded session per key
        src_s = os.path.join(tmp_root, "rate_sess_src")
        for b in range(n_batches):
            spark.range(rows_per_batch).selectExpr(
                f"cast(pmod(xxhash64(id + {b * rows_per_batch}), {n_keys})"
                " as string) as key",
                "cast(0 as int) as tag",
                f"timestamp_micros({base_us} + cast(({b} * {rows_per_batch}"
                " + id) as bigint) * 1000) as ts",
                "id as id",
            ).coalesce(1).write.mode("append").parquet(src_s)
        run(
            "streaming_sessionize",
            src_s,
            os.path.join(tmp_root, "rate_sess_ck"),
            lambda s: sessionize_stream(
                s, "key", "ts", gap_sec=5, watermark="2 seconds"
            ),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    n_pages = int(os.environ.get("PVT_BENCH_PAGES", str(int(sf * 10_000_000))))
    tmp_root = tempfile.mkdtemp(prefix="pvt_bench_")
    timings: dict[str, float] = {}
    timings.update(_box_calibration())

    try:
        # headline: end-to-end tile build. Executor sizing: every task in
        # this pipeline drives a JVM thread + an Arrow-coupled Python
        # worker, so task slots = cores/2 (the cluster analog of
        # spark.executor.cores budgeting for pandas-UDF pipelines);
        # local[cpus] oversubscribes 2x and measures ~20% slower.
        # Two runs, both reported with the host fingerprint sampled right
        # before each (this VM's speed swings 2-3x minute-to-minute,
        # BENCH/BASELINE.md). The HEADLINE is the FIRST (cold) run —
        # same convention as rounds 1-2, so cross-round deltas compare
        # like to like; the second run (warm JVM gateway + page cache)
        # is reported separately as tile_build_best2, never as the
        # headline (ADVICE r3: min-of-N biases the headline low).
        runs = []
        for _ in range(2):
            calib_before = _calib_hilbert_once()
            b = _build_once(f"local[{max(1, cpus // 2)}]", n_pages, tmp_root)
            runs.append((b, calib_before))
        build = runs[0][0]
        timings["tile_build"] = round(build["wall_sec"], 3)
        timings["pages_per_sec"] = round(build["pages_per_sec"], 1)
        timings["tiles_per_sec"] = round(build["tiles_per_sec"], 1)
        timings["tile_build_best2"] = round(
            min(r[0]["wall_sec"] for r in runs), 3
        )
        timings["tile_build_runs"] = [round(r[0]["wall_sec"], 3) for r in runs]
        timings["tile_build_calibs"] = [r[1] for r in runs]
        # calib-normalized headline: wall divided by the single-core
        # Hilbert fingerprint sampled immediately before that run —
        # round-over-round deltas in this ratio factor out host lottery
        timings["tile_build_norm"] = round(build["wall_sec"] / runs[0][1], 2)

        # incremental compaction: fold a 0.5% page delta into the planet the
        # headline build just produced and compare against the full-rebuild
        # cost it replaces (plans/compaction; equivalence is test-certified,
        # this measures the cost shape: dirty-tile work, not planet work)
        from pvt_spark.plans.compaction import compact_planet
        from pvt_spark.plans.pipeline import BuildConfig
        from pvt_spark.session import get_spark as _gs
        from pvt_spark.sources.pages import synthesize_pages as _synth

        m = f"local[{max(1, cpus // 2)}]"
        spark_c = _gs(master=m, app_name="pvt-bench-compact")
        spark_c.sparkContext.setLogLevel("ERROR")
        planet = os.path.join(
            tmp_root, f"planet_{m.replace('[', '_').replace(']', '')}"
        )
        # 0.5% delta = the micro-batch shape compaction exists for. The
        # synthetic pages are UNIFORMLY spread, the worst case for an
        # invalidation set (every delta point dirties its own leaf), so
        # compact_dirty_frac is reported alongside: the wall ratio tracks
        # the dirty fraction plus ~8 fixed job costs, not the planet size
        # start=n_pages keeps the delta's page ids/urls disjoint from the
        # base build — the fresh-crawl shape the incremental path
        # contracts for (re-crawl overlap is excluded for mixed planets)
        delta = _synth(spark_c, max(500, n_pages // 200), seed=777, start=n_pages)
        timings["calib_compact"] = _calib_hilbert_once()
        t0 = time.time()
        s = compact_planet(spark_c, planet, delta, BuildConfig(leaf_zoom=12))
        timings["compact_halfpct_delta"] = round(time.time() - t0, 3)
        timings["compact_dirty_tiles"] = s["dirty_tiles"]
        timings["compact_dirty_frac"] = round(
            s["dirty_tiles"] / max(1, build["n_tiles"]), 4
        )
        timings["compact_vs_rebuild"] = round(
            timings["compact_halfpct_delta"] / timings["tile_build"], 3
        )
        # deferred variant (second generation, fresh disjoint delta):
        # low-zoom overview tiles park in _deferred_dirty and fold on a
        # later flush/materialize, so the per-batch wall drops the
        # always-dirty low-zoom recompose share
        delta2 = _synth(
            spark_c, max(500, n_pages // 200), seed=778, start=2 * n_pages
        )
        timings["calib_compact_deferred"] = _calib_hilbert_once()
        t0 = time.time()
        s2 = compact_planet(
            spark_c, planet, delta2, BuildConfig(leaf_zoom=12),
            defer_zoom_below=8,
        )
        timings["compact_deferred_halfpct"] = round(time.time() - t0, 3)
        timings["compact_deferred_parked_tiles"] = s2["deferred_tiles"]

        # streaming-cadence compaction, end-to-end (VERDICT r4 item 6):
        # 10 micro-batches (0.1% of the planet each) drain through ONE
        # run_incremental_build call (maxFilesPerTrigger=1 => one
        # foreachBatch fold per file; flush_every=5 folds the deferred
        # low-zoom set mid-stream), then a final flush + byte-identity
        # check against a full rebuild over every page ever ingested
        from pvt_spark.plans.compaction import flush_deferred, read_tiles
        from pvt_spark.plans.pipeline import build_planet as _bp_full
        from pvt_spark.streaming.incremental import run_incremental_build

        stream_src = os.path.join(tmp_root, "compact_stream_src")
        drops = []
        batch_pages = max(200, n_pages // 1000)
        for b in range(10):
            d = _synth(
                spark_c, batch_pages, seed=900 + b,
                start=3 * n_pages + b * batch_pages, partitions=1,
            )
            drops.append(d)
            d.write.mode("append").parquet(stream_src)
        timings["calib_compact_stream"] = _calib_hilbert_once()
        t0 = time.time()
        run_incremental_build(
            spark_c, stream_src, planet,
            os.path.join(tmp_root, "compact_stream_ck"),
            BuildConfig(leaf_zoom=12),
            defer_zoom_below=8, flush_every=5, max_files_per_trigger=1,
        )
        timings["compact_stream_10batch"] = round(time.time() - t0, 3)
        timings["compact_stream_batch_pages"] = batch_pages
        timings["compact_stream_10batch_norm"] = round(
            timings["compact_stream_10batch"] / timings["calib_compact_stream"],
            2,
        )
        t0 = time.time()
        flush_deferred(spark_c, planet, BuildConfig(leaf_zoom=12))
        timings["compact_stream_final_flush"] = round(time.time() - t0, 3)
        # per-step medians across the 10 folds (compact_planet logs a
        # steps dict per record) — shows WHERE the per-fold wall goes
        # (uniform synthetic dirt makes dirty_cluster the worst case:
        # the coarse range predicate cannot prune a world-spanning set)
        with open(os.path.join(planet, "_compaction.json")) as _f:
            _recs = [r for r in json.load(_f) if "steps" in r][-10:]
        if _recs:
            _names = sorted({k for r in _recs for k in r["steps"]})
            timings["compact_stream_step_medians"] = {
                n: round(
                    sorted(r["steps"].get(n, 0.0) for r in _recs)[
                        len(_recs) // 2
                    ],
                    3,
                )
                for n in _names
            }

        # byte-identity: the streamed planet == a cold rebuild over the
        # union of every page fed to it (base + the two compact deltas
        # + the 10 stream drops) — exceptAll both ways on tile md5
        all_pages = spark_c.read.parquet(
            os.path.join(tmp_root, f"pages_{n_pages}")
        )
        for extra in (delta, delta2, *drops):
            all_pages = all_pages.unionByName(extra)
        full_dir = os.path.join(tmp_root, "planet_stream_full")
        _bp_full(spark_c, all_pages, full_dir, BuildConfig(leaf_zoom=12))
        from pyspark.sql import functions as _F

        def _tm(df):
            return df.select(
                "zoom", "tile_h", _F.md5(_F.col("payload")).alias("m")
            )

        got_t = _tm(read_tiles(spark_c, planet))
        want_t = _tm(spark_c.read.parquet(os.path.join(full_dir, "tiles")))
        n_diff = (
            got_t.exceptAll(want_t).count() + want_t.exceptAll(got_t).count()
        )
        timings["compact_stream_identity"] = n_diff == 0
        timings["compact_stream_tiles"] = got_t.count()
        spark_c.stop()

        # representative oracle queries at sf_dir
        from pvt_spark.queries import REGISTRY
        from pvt_spark.session import get_spark

        spark = get_spark(master=f"local[{cpus}]", app_name="pvt-bench-queries")
        spark.sparkContext.setLogLevel("ERROR")
        timings["calib_queries"] = _calib_hilbert_once()
        bench_queries = [
            "q01_pricing_summary",
            "q02_top_revenue_orders",
            "q06_window_topn",
            "q11_tile_counts",
            "q12_knn",
            "q13_pip",
            "q14_exact_dedup",
            "q20_minhash",
            "q23_embedding_topk",
            "q26_hilbert_leaves",
            "q27_tile_tree",
            # full dedup pipeline: LSH bands -> candidate pairs ->
            # connected components -> canonical survivors
            "q36_dedup_groups",
            # text-explode class: per-doc 2/5-gram repetition signals
            "q42_repetition_quality",
            # posting-fetch retrieval: BM25 top-k
            "q44_bm25_topk",
            # temporal joins: as-of (union+window) and banded range join
            "q50_asof_join",
            "q51_range_join",
            # spatial self-joins: tile-banded radius join, PBSM MBR overlap
            "q52_radius_join",
            "q54_mbr_overlap",
            # histogram-path exact group quantiles; salted two-phase top-k
            "q53_group_quantiles",
            "q55_topk_per_group",
            # stateful streaming: as-of over a checkpointed availableNow
            # replay (two runs + watermark flush inside the query)
            "q56_streaming_asof",
            # round-5 classes: hot-key-split as-of, learned BPE,
            # bloom dedup, integer PQ/ADC, triangles, resample, funnel,
            # LM surprise
            "q58_asof_split",
            "q59_bpe_subword",
            "q60_bloom_dedup",
            "q61_pq_topk",
            "q62_host_triangles",
            "q63_daily_resample",
            "q64_funnel",
            "q65_lm_surprise",
        ]
        for name in bench_queries:
            fn, _sql = REGISTRY[name]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
        # bracket the query block with calibs and normalize by their
        # mean: per-query adjacent sampling would cost ~1 calib per
        # query (5-20s each on this box), so the bracket bounds the
        # drift instead — both endpoints are reported so a reader can
        # see when the block straddled a host swing
        timings["calib_queries_after"] = _calib_hilbert_once()
        q_calib = (timings["calib_queries"] + timings["calib_queries_after"]) / 2
        for name in bench_queries:
            timings[f"{name}_norm"] = round(timings[name] / q_calib, 2)

        # PIP vs a 20k-vertex jagged polygon (coastline-country analog):
        # exercises the edge-chunked ray-cast + scanline cover at the
        # vertex counts real admin polygons have
        import numpy as np

        from pvt_spark.operators.pip import point_in_polygon_join
        from pvt_spark.queries import _grid_points

        nv = 20_000
        ang = np.linspace(0, 2 * np.pi, nv, endpoint=False)
        rad = np.where(np.arange(nv) % 2 == 0, 60.0, 35.0) * 1e7 / 10  # jagged star
        plon = (rad * np.cos(ang)).astype(np.int64)
        plat = (rad * 0.5 * np.sin(ang)).astype(np.int64)
        ring = [(int(a), int(b)) for a, b in zip(plon, plat)]
        ring.append(ring[0])
        polys = spark.createDataFrame(
            [(0, "star", [ring])],
            "admin_id long, name string, "
            "rings array<array<struct<lon_dm7:int, lat_dm7:int>>>",
        )
        from pvt_spark.functions.geo import hilbert_h
        from pyspark.sql import functions as F

        pts = (
            spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select(
                F.col("c_custkey").alias("feature_id"),
                F.expr(
                    "((c_custkey * 2654435761) % 3600000000 + 3600000000) % 3600000000 - 1800000000"
                ).cast("int").alias("lon_dm7"),
                F.expr(
                    "((c_custkey * 2246822519) % 1700000000 + 1700000000) % 1700000000 - 850000000"
                ).cast("int").alias("lat_dm7"),
            )
            .withColumn("h", hilbert_h(F.col("lon_dm7"), F.col("lat_dm7")))
        )
        t0 = time.time()
        n_in = point_in_polygon_join(pts, polys, cover_zoom=8).count()
        timings["pip_20k_vertex"] = round(time.time() - t0, 3)
        timings["pip_20k_vertex_matches"] = n_in

        # partitioned PIP with a polygon table deliberately OVER the
        # broadcast ceiling: 200 jagged polygons x 5k vertices = 1M ring
        # vertices (>>10 MB collected), generated IN Spark — polygons
        # never touch the driver (VERDICT r3 item 1)
        from pvt_spark.operators.pip import point_in_polygon_join_partitioned

        n_poly, nvp = 200, 5000
        polys_big = spark.range(n_poly).selectExpr(
            "id as admin_id",
            "concat('poly_', id) as name",
            f"""array(transform(sequence(0, {nvp}),
                i -> struct(
                  cast((id % 20) * 170000000 - 1620000000
                       + cast((60000000.0 + 25000000.0 * (i % 2))
                              * cos(2 * pi() * (i % {nvp}) / {nvp}) as bigint)
                       as int) as lon_dm7,
                  cast((id div 20) * 160000000 - 720000000
                       + cast((30000000.0 + 12000000.0 * (i % 2))
                              * sin(2 * pi() * (i % {nvp}) / {nvp}) as bigint)
                       as int) as lat_dm7))) as rings""",
        )
        # points side: orders-derived (10x customer count at any SF) so
        # the partitioned bench exercises both big sides
        pts_big = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select(
                F.col("o_orderkey").alias("feature_id"),
                F.expr(
                    "((o_orderkey * 2654435761) % 3600000000 + 3600000000) % 3600000000 - 1800000000"
                ).cast("int").alias("lon_dm7"),
                F.expr(
                    "((o_orderkey * 2246822519) % 1700000000 + 1700000000) % 1700000000 - 850000000"
                ).cast("int").alias("lat_dm7"),
            )
            .withColumn("h", hilbert_h(F.col("lon_dm7"), F.col("lat_dm7")))
        )
        t0 = time.time()
        n_part = point_in_polygon_join_partitioned(
            pts_big, polys_big, cover_zoom=7
        ).count()
        timings["pip_partitioned_1m_vertex"] = round(time.time() - t0, 3)
        timings["pip_partitioned_1m_vertex_matches"] = n_part

        # IVF ANN at scale-credible constants: 1e5 clustered unit vectors
        # (dim 64), sqrt(N)=317 k-means centroids (2 Lloyd rounds),
        # nprobe 8 — recall@10 vs the brute-force oracle reported next
        # to the walls (VERDICT r3 item 4)
        from pvt_spark.operators.ann import (
            brute_topk,
            ivf_assign,
            ivf_search,
            kmeans_fit,
        )

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
        n_cent = int(n_vec ** 0.5) + 1
        t0 = time.time()
        cents = kmeans_fit(vecs, n_cent, iters=2)
        assigned = ivf_assign(vecs, cents).localCheckpoint(eager=True)
        timings["ivf_100k_train_assign_sec"] = round(time.time() - t0, 3)
        qs = vecs.where(f"vec_id % {n_vec // 20} = 3").selectExpr(
            "vec_id as query_id", "vec"
        )
        t0 = time.time()
        ivf_top = ivf_search(assigned, cents, qs, nprobe=8, k=10).collect()
        timings["ivf_100k_search20_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        brute_top = brute_topk(vecs, qs, k=10).collect()
        timings["ivf_100k_brute20_sec"] = round(time.time() - t0, 3)
        got: dict[int, set] = {}
        for r in ivf_top:
            got.setdefault(r.query_id, set()).add(r.vec_id)
        want: dict[int, set] = {}
        for r in brute_top:
            want.setdefault(r.query_id, set()).add(r.vec_id)
        rec = [len(got.get(q, set()) & w) / len(w) for q, w in want.items()]
        timings["ivf_100k_recall_at_10"] = round(sum(rec) / len(rec), 3)
        timings["ivf_100k_centroids"] = n_cent

        # persisted IVF index: same vectors/queries, but the index is
        # written once (centroids + vectors partitioned BY CELL, fit on
        # a 10% hash sample) and the search prunes probe cells at the
        # directory level — the amortized many-queries shape
        from pvt_spark.operators.ann import ivf_index_build, ivf_index_search

        idx_dir = tempfile.mkdtemp(prefix="ivf_idx_")
        try:
            # pq_m=8: the index also stores 8-byte PQ codes + codebook,
            # so the same build serves float AND compressed-domain search
            t0 = time.time()
            ivf_index_build(vecs, idx_dir, fit_fraction=0.1, pq_m=8)
            timings["ivf_index_build_sec"] = round(time.time() - t0, 3)
            t0 = time.time()
            idx_top = ivf_index_search(spark, idx_dir, qs, nprobe=8, k=10).collect()
            timings["ivf_index_search20_sec"] = round(time.time() - t0, 3)
            got_i: dict[int, set] = {}
            for r in idx_top:
                got_i.setdefault(r.query_id, set()).add(r.vec_id)
            rec_i = [len(got_i.get(q, set()) & w) / len(w) for q, w in want.items()]
            timings["ivf_index_recall_at_10"] = round(sum(rec_i) / len(rec_i), 3)
            # ADC mode: probed-cell scan reads only (id, cell, codes)
            t0 = time.time()
            adc_top = ivf_index_search(
                spark, idx_dir, qs, nprobe=8, k=10, mode="adc", rerank=200
            ).collect()
            timings["ivf_index_adc_search20_sec"] = round(time.time() - t0, 3)
            got_a: dict[int, set] = {}
            for r in adc_top:
                got_a.setdefault(r.query_id, set()).add(r.vec_id)
            rec_a = [len(got_a.get(q, set()) & w) / len(w) for q, w in want.items()]
            timings["ivf_index_adc_recall_at_10"] = round(
                sum(rec_a) / len(rec_a), 3
            )
        finally:
            shutil.rmtree(idx_dir, ignore_errors=True)

        # IVF-PQ: the compressed-domain search over the same 100k
        # vectors — codes are 8 bytes/vector (vs 512 B float64), ADC
        # scans never read the float table, exact re-rank of the ADC
        # top-50 restores recall at 50*Q point lookups
        from pvt_spark.operators.pq import (
            ivfpq_search,
            pq_encode,
            pq_train,
            quantize_expr,
        )

        qints = vecs.selectExpr("vec_id", quantize_expr("vec") + " as qv")
        t0 = time.time()
        pq_cb = pq_train(qints, m=8, ksub=256, iters=2)
        timings["pq_100k_train_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        assigned_codes = pq_encode(
            assigned.selectExpr(
                "vec_id", "centroid_id", quantize_expr("vec") + " as qv"
            ),
            pq_cb,
        ).select("vec_id", "centroid_id", "codes").localCheckpoint(eager=True)
        timings["pq_100k_encode_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        # rerank depth 200: measured recall@10 0.695 -> 0.990 over
        # rerank=50 at IDENTICAL wall (the re-rank is 200*Q point
        # lookups — noise next to the ADC scan)
        pq_top = ivfpq_search(
            assigned_codes, cents, pq_cb, qs, nprobe=8, k=10,
            rerank=200, vectors=vecs,
        ).collect()
        timings["ivfpq_100k_search20_sec"] = round(time.time() - t0, 3)
        got_pq: dict[int, set] = {}
        for r in pq_top:
            got_pq.setdefault(r.query_id, set()).add(r.vec_id)
        rec_pq = [len(got_pq.get(q, set()) & w) / len(w) for q, w in want.items()]
        timings["ivfpq_100k_recall_at_10"] = round(sum(rec_pq) / len(rec_pq), 3)

        # dedup grouping at web-dup shape: 1.84M candidate edges =
        # 200k stars of 10 docs (the dominant real LSH shape) + 10k
        # chains of 5 (diameter 4 forces multiple supersteps). The CC
        # loop moves only label-scale rows per superstep; the edge
        # list is partitioned + sorted once, never re-shuffled.
        from pvt_spark.operators.dedup import dedup_groups

        n_star, star_sz = 200_000, 10
        star_edges = spark.range(n_star * (star_sz - 1)).selectExpr(
            f"(id div {star_sz - 1}) * {star_sz} as doc_a",
            f"(id div {star_sz - 1}) * {star_sz} + (id % {star_sz - 1}) + 1"
            " as doc_b",
        )
        c0, n_chain, chain_len = 10_000_000, 10_000, 5
        chain_edges = spark.range(n_chain * (chain_len - 1)).selectExpr(
            f"{c0} + (id div {chain_len - 1}) * {chain_len}"
            f" + (id % {chain_len - 1}) as doc_a",
            f"{c0} + (id div {chain_len - 1}) * {chain_len}"
            f" + (id % {chain_len - 1}) + 1 as doc_b",
        )
        cc_edges = star_edges.unionByName(chain_edges).localCheckpoint(
            eager=True
        )
        t0 = time.time()
        n_groups = dedup_groups(cc_edges).where("is_canonical = 1").count()
        timings["cc_1m8_edges_sec"] = round(time.time() - t0, 3)
        timings["cc_1m8_edges_groups"] = n_groups  # expect 210,000

        # rate-controlled stateful streaming: 12 x 50k-row micro-batches
        timings["calib_streaming"] = _calib_hilbert_once()
        timings.update(_streaming_rate_bench(spark, tmp_root))
        timings["streaming_asof_rows_per_sec_norm"] = round(
            timings["streaming_asof_rows_per_sec"] * timings["calib_streaming"],
            1,
        )
        timings["streaming_sessionize_rows_per_sec_norm"] = round(
            timings["streaming_sessionize_rows_per_sec"]
            * timings["calib_streaming"],
            1,
        )
        spark.stop()

        # mixed build: nodes + ways + relations + externals through the
        # unified chunk merge (tracks the multi-point pipeline's speed)
        from pvt_spark.plans.pipeline import BuildConfig as _BC
        from pvt_spark.plans.pipeline import build_planet as _bp
        from pvt_spark.session import get_spark as _gs

        spark = _gs(master=f"local[{max(1, cpus // 2)}]", app_name="pvt-bench-mixed")
        spark.sparkContext.setLogLevel("ERROR")
        mixed_pages = min(n_pages // 5, 200_000)
        pages_path = os.path.join(tmp_root, f"pages_{n_pages}")
        # predicate, not limit(): limit collapses downstream parallelism
        pages = spark.read.parquet(pages_path).where(f"page_id < {mixed_pages}")
        planet = os.path.join(tmp_root, "planet_mixed")
        calib_mixed = _calib_hilbert_once()
        t0 = time.time()
        _bp(
            spark, pages, planet,
            _BC(leaf_zoom=12, synth_ways=mixed_pages // 100,
                synth_relations=mixed_pages // 1000),
        )
        timings["tile_build_mixed"] = round(time.time() - t0, 3)
        timings["tile_build_mixed_calib"] = calib_mixed
        timings["tile_build_mixed_norm"] = round(
            timings["tile_build_mixed"] / calib_mixed, 2
        )
        timings["mixed_pages"] = mixed_pages
        spark.stop()

        if os.environ.get("PVT_BENCH_SCALING") == "1":
            # north-rule N->4N protocol (pinned, fresh subprocesses):
            # see scripts/scaling_bench.py + BENCH/BASELINE.md
            out = subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                              "scripts", "scaling_bench.py"),
                 "--pages", str(n_pages), "--low", "1", "--high", "4"],
                capture_output=True, text=True, check=True,
            )
            sc = json.loads(out.stdout.strip().splitlines()[-1])
            timings["scaling_pages_per_sec_1"] = sc["pages_per_sec_low"]
            timings["scaling_pages_per_sec_4"] = sc["pages_per_sec_high"]
            timings["scaling_efficiency_1_to_4"] = sc["efficiency"]
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "tile_build_wall_sec",
                "value": timings.get("tile_build"),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
