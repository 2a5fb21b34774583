"""Incremental ingest: exactly-once append across two file drops."""

import os

from pvt_spark.sources.pages import synthesize_pages
from pvt_spark.streaming.incremental import run_ingest


def test_incremental_ingest_exactly_once(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    points_dir = str(tmp_path / "points")
    ckpt = str(tmp_path / "ckpt")

    # drop 1
    synthesize_pages(spark, 100, seed=42, partitions=2).write.mode("append").parquet(pages_dir)
    run_ingest(spark, pages_dir, points_dir, ckpt)
    n1 = spark.read.parquet(points_dir).count()
    assert n1 > 0

    # re-run with no new files: nothing appended (checkpoint dedup)
    run_ingest(spark, pages_dir, points_dir, ckpt)
    assert spark.read.parquet(points_dir).count() == n1

    # drop 2: only the new pages are processed
    synthesize_pages(spark, 50, seed=7, partitions=1).write.mode("append").parquet(pages_dir)
    run_ingest(spark, pages_dir, points_dir, ckpt)
    n2 = spark.read.parquet(points_dir).count()
    assert n2 > n1

    # points carry provenance + hilbert keys
    row = spark.read.parquet(points_dir).first()
    assert row.url.startswith("https://") and row.h is not None
    assert os.path.isdir(ckpt)


def test_streaming_windowed_leaf_counts(spark, tmp_path):
    """Watermarked event-time windows: streaming counts == batch oracle
    (complete mode), and append mode emits only watermark-closed windows."""
    from pyspark.sql import functions as F

    from pvt_spark.functions.geo import zoom_h
    from pvt_spark.operators.extract import extract_pages
    from pvt_spark.operators.geotag import geotag
    from pvt_spark.sources.pages import PAGES_SCHEMA
    from pvt_spark.streaming.incremental import streaming_leaf_counts

    pages_dir = str(tmp_path / "pages")
    batch = synthesize_pages(spark, 400, seed=42, partitions=2)
    batch.write.mode("append").parquet(pages_dir)

    stream = (
        spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    )
    agg = streaming_leaf_counts(stream, leaf_zoom=12, window_dur="30 days",
                                watermark="1 hour")
    q = (
        agg.writeStream.format("memory").queryName("leafcounts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.leaf_h): r.n_points
        for r in spark.sql("SELECT * FROM leafcounts").collect()
    }

    # batch oracle through the same kernels
    pts = geotag(extract_pages(spark.read.parquet(pages_dir)))
    pages = spark.read.parquet(pages_dir).select("url", "warc_ts")
    want_df = (
        pts.join(pages, "url")
        .withColumn("leaf_h", zoom_h(F.col("h"), 12))
        .groupBy(F.window("warc_ts", "30 days").alias("w"), "leaf_h")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    want = {
        (r.w.start, r.leaf_h): r.n_points for r in want_df.collect()
    }
    assert got == want and len(got) > 0

    # append mode: only windows older than max(ts) - watermark finalize
    q2 = (
        streaming_leaf_counts(stream, leaf_zoom=12, window_dur="30 days",
                              watermark="1 hour")
        .writeStream.format("memory").queryName("leafappend")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    emitted = spark.sql("SELECT count(*) n FROM leafappend").first().n
    total_windows = len(got)
    assert emitted < total_windows  # the newest window is still open


def test_streaming_dedup_first_seen_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates across file drops are
    dropped, each distinct fingerprint survives exactly once, and the
    kept set equals the batch distinct-fingerprint oracle."""
    from pyspark.sql import functions as F

    from pvt_spark.operators.extract import extract_pages
    from pvt_spark.sources.pages import PAGES_SCHEMA
    from pvt_spark.streaming.incremental import streaming_dedup_pages

    pages_dir = str(tmp_path / "pages")
    # drop 1: 100 pages; drop 2: the SAME 100 pages (re-crawl) + 50 new
    synthesize_pages(spark, 100, seed=42, partitions=2).write.mode(
        "append"
    ).parquet(pages_dir)
    synthesize_pages(spark, 100, seed=42, partitions=1).write.mode(
        "append"
    ).parquet(pages_dir)
    synthesize_pages(spark, 50, seed=7, partitions=1).write.mode(
        "append"
    ).parquet(pages_dir)

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    q = (
        streaming_dedup_pages(stream, watermark="365 days")
        .writeStream.format("memory")
        .queryName("dedup_pages")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    kept = spark.sql("SELECT fingerprint FROM dedup_pages").collect()

    batch = extract_pages(spark.read.parquet(pages_dir)).select(
        F.md5(
            F.regexp_replace(
                F.lower(F.trim(F.col("extracted_text"))), r"\s+", " "
            )
        ).alias("fingerprint")
    )
    want = {r.fingerprint for r in batch.distinct().collect()}
    got = [r.fingerprint for r in kept]
    # exactly once per distinct fingerprint (the 100 re-crawled pages drop)
    assert len(got) == len(set(got)) == len(want)
    assert set(got) == want
    # and duplicates existed in the input (the test would be vacuous)
    assert spark.read.parquet(pages_dir).count() > len(want)


def test_streaming_dirty_tile_log(spark, tmp_path):
    """Invalidation log: per-drop dirty sets match the batch oracle,
    the log is keyed by batch, and re-running with no new files
    appends nothing."""
    from pvt_spark.operators.extract import extract_pages
    from pvt_spark.operators.geotag import geotag
    from pvt_spark.streaming.incremental import (
        dirty_tiles_for_points,
        dirty_tiles_since,
        run_dirty_tile_log,
    )

    pages_dir = str(tmp_path / "pages")
    log_dir = str(tmp_path / "dirty")
    ckpt = str(tmp_path / "ckpt")

    def oracle(pages_df):
        pts = geotag(extract_pages(pages_df))
        return {
            (r.zoom, r.tile_h)
            for r in dirty_tiles_for_points(pts, leaf_zoom=12).collect()
        }

    # drop 1
    d1 = synthesize_pages(spark, 200, seed=42, partitions=2)
    d1.write.mode("append").parquet(pages_dir)
    run_dirty_tile_log(spark, pages_dir, log_dir, ckpt, leaf_zoom=12)
    got1 = {
        (r.zoom, r.tile_h)
        for r in dirty_tiles_since(spark, log_dir).collect()
    }
    assert got1 == oracle(d1) and got1
    # every non-leaf dirty tile's z+2 children that are dirty roll up to it
    by_zoom = {}
    for z, th in got1:
        by_zoom.setdefault(z, set()).add(th)
    for z in range(12, 1, -2):
        assert {th >> 4 for th in by_zoom[z]} <= by_zoom[z - 2]

    hw1 = spark.read.parquet(log_dir).agg({"batch_id": "max"}).first()[0]

    # no new files: checkpoint replays nothing, log unchanged
    run_dirty_tile_log(spark, pages_dir, log_dir, ckpt, leaf_zoom=12)
    assert spark.read.parquet(log_dir).count() == len(got1)

    # drop 2: only the NEW pages' tiles appear after the high-water mark
    d2 = synthesize_pages(spark, 60, seed=7, partitions=1)
    d2.write.mode("append").parquet(pages_dir)
    run_dirty_tile_log(spark, pages_dir, log_dir, ckpt, leaf_zoom=12)
    got2 = {
        (r.zoom, r.tile_h)
        for r in dirty_tiles_since(spark, log_dir, after_batch_id=hw1).collect()
    }
    assert got2 == oracle(d2) and got2


def _table_rows(df):
    """A table's rows as a set of tuples, ``zoom`` first."""
    cols = ["zoom"] + sorted(c for c in df.columns if c != "zoom")
    return {tuple(r) for r in df.select(*cols).collect()}


def _drained_tables(spark, planet):
    """The tree (through its reader), manifest and zoom metrics of a
    drained planet, as row sets."""
    import os

    from pvt_spark.plans.pipeline import read_table

    return {
        t: _table_rows(spark.read.parquet(os.path.join(planet, t)))
        for t in ("tile_manifest", "zoom_metrics")
    } | {"tile_tree": _table_rows(read_table(spark, planet, "tile_tree"))}


def test_run_incremental_build(spark, tmp_path):
    """Streamed micro-batches maintain the planet: bootstrap on the
    first batch, dirty-tile compaction on later ones — end state
    byte-identical to a full rebuild over all pages."""
    from pyspark.sql import functions as F

    from pvt_spark.plans.compaction import read_tiles
    from pvt_spark.plans.pipeline import BuildConfig, build_planet
    from pvt_spark.streaming.incremental import run_incremental_build

    pages_dir = str(tmp_path / "pages")
    planet = str(tmp_path / "planet")
    full = str(tmp_path / "full")
    ckpt = str(tmp_path / "ckpt")
    cfg = BuildConfig()

    d1 = synthesize_pages(spark, 120, seed=31, partitions=1)
    d1.write.mode("append").parquet(pages_dir)
    run_incremental_build(spark, pages_dir, planet, ckpt, cfg)
    import json
    import os

    log = json.load(open(os.path.join(planet, "_compaction.json")))
    assert log[0].get("bootstrap") and len(log) == 1

    d2 = synthesize_pages(spark, 50, seed=32, partitions=1)
    d2.write.mode("append").parquet(pages_dir)
    run_incremental_build(spark, pages_dir, planet, ckpt, cfg)
    log = json.load(open(os.path.join(planet, "_compaction.json")))
    assert len(log) == 2 and log[1]["dirty_tiles"] > 0
    assert "stream_batch_id" in log[1]

    # third run, no new files: nothing folds
    run_incremental_build(spark, pages_dir, planet, ckpt, cfg)
    assert len(json.load(open(os.path.join(planet, "_compaction.json")))) == 2

    build_planet(spark, d1.unionByName(d2), full, cfg)

    def tiles_md5(df):
        return {
            (r.zoom, r.tile_h): r.m
            for r in df.select(
                "zoom", "tile_h", F.md5(F.col("payload")).alias("m")
            ).collect()
        }

    assert tiles_md5(read_tiles(spark, planet)) == tiles_md5(
        spark.read.parquet(full + "/tiles")
    )
    # the drained tree (through its generation reader), manifest and
    # zoom metrics equal the cold rebuild's
    for table, got in _drained_tables(spark, planet).items():
        assert got == _table_rows(spark.read.parquet(f"{full}/{table}")), table


def test_run_incremental_build_deferred_flush(spark, tmp_path):
    """Streaming compaction with low-zoom deferral: flush_every folds
    the deferred set automatically, restoring full-rebuild equality."""
    import json
    import os

    from pyspark.sql import functions as F

    from pvt_spark.plans.compaction import read_tiles
    from pvt_spark.plans.pipeline import BuildConfig, build_planet
    from pvt_spark.streaming.incremental import run_incremental_build

    pages_dir = str(tmp_path / "pages")
    planet = str(tmp_path / "planet")
    full = str(tmp_path / "full")
    ckpt = str(tmp_path / "ckpt")
    cfg = BuildConfig()

    drops = [
        synthesize_pages(spark, 100, seed=91, partitions=1),
        synthesize_pages(spark, 40, seed=92, partitions=1, start=100),
        synthesize_pages(spark, 40, seed=93, partitions=1, start=140),
    ]
    for d in drops:
        d.write.mode("append").parquet(pages_dir)
        run_incremental_build(
            spark, pages_dir, planet, ckpt, cfg,
            defer_zoom_below=8, flush_every=2,
        )

    log = json.load(open(os.path.join(planet, "_compaction.json")))
    # bootstrap + compact(deferred) + compact(deferred) + auto-flush
    assert [bool(r.get("flush")) for r in log] == [False, False, False, True]
    assert log[1]["deferred_tiles"] > 0

    all_pages = drops[0].unionByName(drops[1]).unionByName(drops[2])
    build_planet(spark, all_pages, full, cfg)

    def tiles_md5(df):
        return {
            (r.zoom, r.tile_h): r.m
            for r in df.select(
                "zoom", "tile_h", F.md5(F.col("payload")).alias("m")
            ).collect()
        }

    got = tiles_md5(read_tiles(spark, planet))
    want = tiles_md5(spark.read.parquet(full + "/tiles"))
    # flush covered batches 1-2; batch 3's low zooms still deferred
    hi = {k: v for k, v in want.items() if k[0] >= 8}
    assert {k: v for k, v in got.items() if k[0] >= 8} == hi
    for table, rows in _drained_tables(spark, planet).items():
        cold = _table_rows(spark.read.parquet(f"{full}/{table}"))
        assert {r for r in rows if r[0] >= 8} == {r for r in cold if r[0] >= 8}, table
