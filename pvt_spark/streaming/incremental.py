"""Incremental page ingest via Structured Streaming.

The reference is strictly batch (SURVEY §2.9); its resume unit is the
stage file. For continuously-arriving crawl data we add an incremental
front half: a file/parquet stream of pages runs through the SAME
extract + geotag kernels (stateless, so mapInPandas/pandas UDFs are
streaming-safe) and appends Hilbert-keyed points; the pyramid stages
then run as periodic batch compactions over the appended points
(leaves/tree/content are re-aggregations — cheap relative to ingest).

``trigger(availableNow=True)`` gives exactly-once batch-incremental
semantics with a checkpoint directory — the streaming analog of the
pipeline's lineage snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_pages
from ..operators.geotag import geotag
from ..sources.pages import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 64
) -> DataFrame:
    """File-source stream of page parquet drops (new files = new pages).
    ``max_files_per_trigger`` bounds each micro-batch; with
    availableNow it also sets the batch cadence for a backlog drain
    (one batch per file at 1 — the rate-controlled bench shape)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def incremental_points(pages_stream: DataFrame) -> DataFrame:
    """pages stream -> geotagged points stream (stateless kernels only)."""
    from pyspark.sql import functions as F

    pts = geotag(extract_pages(pages_stream))
    return pts.withColumn("feature_id", F.xxhash64("url", "mention_idx"))


def streaming_leaf_counts(
    pages_stream: DataFrame,
    leaf_zoom: int = 12,
    window_dur: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed per-leaf-tile ingestion metrics with late-data
    handling: (window, leaf_h, n_points) counts over the crawl stream.

    Watermark on ``warc_ts`` bounds state: windows older than
    max(event time) - watermark are finalized and dropped from state —
    late pages beyond it are discarded, matching the lineage contract
    (a finalized window's count never changes). The geotag kernel is
    stateless, so the same extract/regex/Hilbert code path serves batch
    and streaming.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from ..functions.geo import zoom_h
    from ..operators.extract import extract_text
    from ..operators.geotag import _geotag_batch

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            text = pdf["html"].map(extract_text)
            hits = _geotag_batch(pd.DataFrame({"url": pdf["url"], "text": text}))
            ts_by_url = dict(zip(pdf["url"], pdf["warc_ts"]))
            hits["warc_ts"] = hits["url"].map(ts_by_url)
            yield hits[["warc_ts", "h"]]

    pts = pages_stream.select("url", "warc_ts", "html").mapInPandas(
        run, "warc_ts timestamp, h long"
    )
    return (
        pts.withWatermark("warc_ts", watermark)
        .withColumn("leaf_h", zoom_h(F.col("h"), leaf_zoom))
        .groupBy(F.window("warc_ts", window_dur).alias("w"), "leaf_h")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "leaf_h",
            "n_points",
        )
    )


def streaming_dedup_pages(
    pages_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Exact streaming dedup on the content fingerprint: the FIRST
    arrival of each md5(whitespace-normalized lowercase extracted
    text) — q18's fingerprint over the SAME versioned extract kernel —
    passes; re-crawls and mirrors arriving within the watermark
    horizon are dropped (``dropDuplicatesWithinWatermark``).

    State is bounded: fingerprints whose event time falls behind
    max(event time) - watermark are evicted, so an unbounded crawl
    stream runs in bounded memory — the at-scale requirement a plain
    streaming ``dropDuplicates`` (state grows forever) cannot meet.
    First-arrival-wins matches the batch first-seen dedup semantics
    (F5; ``operators/dedup`` keeps the min doc_id the same way).
    """
    from pyspark.sql import functions as F

    from ..operators.extract import extract_pages

    docs = extract_pages(pages_stream).withColumn(
        "fingerprint",
        F.md5(
            F.regexp_replace(
                F.lower(F.trim(F.col("extracted_text"))), r"\s+", " "
            )
        ),
    )
    return (
        docs.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("page_id", "url", "warc_ts", "fingerprint")
    )


def dirty_tiles_for_points(points: DataFrame, leaf_zoom: int = 12) -> DataFrame:
    """Distinct pyramid tiles (zoom, tile_h) whose content a set of new
    points invalidates: each point's leaf tile plus every even-zoom
    ancestor up to z0 (tree masks and pyramid counts aggregate leaf
    rows, so any ancestor can change — A4/A5 rollup semantics,
    reference src/hilbert/tree.rs child-mask rollup).

    Scale shape: distinct the LEAF ids first (partial agg shrinks each
    partition to its unique leaves before the one shuffle), then explode
    the ~7-entry ancestor ladder off the already-unique leaves — the
    second distinct is bounded by tile count, never point count.
    """
    from pyspark.sql import functions as F

    from ..functions.geo import zoom_h

    leaves = points.select(
        zoom_h(F.col("h"), leaf_zoom).alias("leaf_h")
    ).dropDuplicates(["leaf_h"])
    zooms = list(range(leaf_zoom, -1, -2))
    return (
        leaves.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(z).cast("int").alias("zoom"),
                            F.shiftrightunsigned(
                                F.col("leaf_h"), 2 * (leaf_zoom - z)
                            ).alias("tile_h"),
                        )
                        for z in zooms
                    ]
                )
            ).alias("t")
        )
        .select("t.zoom", "t.tile_h")
        .dropDuplicates(["zoom", "tile_h"])
    )


def run_dirty_tile_log(
    spark: SparkSession,
    pages_dir: str,
    log_dir: str,
    checkpoint_dir: str,
    leaf_zoom: int = 12,
    await_termination: bool = True,
    max_files_per_trigger: int = 64,
):
    """Streaming dirty-tile invalidation log: per micro-batch, append
    the distinct (zoom, tile_h) set that batch's pages invalidate,
    keyed by the micro-batch id.

    ``foreachBatch`` + dynamic partition overwrite on ``batch_id``
    makes replays idempotent — a re-executed batch rewrites its own
    partition instead of double-appending — so the log is exactly-once
    per micro-batch under the stream's checkpoint. A periodic compactor
    reads ``dirty_tiles_since(last_high_water)`` and rebuilds ONLY
    those pyramid tiles, the incremental analog of the reference's
    whole-stage rebuild (its resume unit is a full stage file;
    src/manifest.rs stage gating).
    """
    from pyspark.sql import functions as F

    stream = incremental_points(
        read_pages_stream(spark, pages_dir, max_files_per_trigger)
    )

    def log_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            dirty_tiles_for_points(batch_df, leaf_zoom)
            .withColumn("batch_id", F.lit(batch_id))
            .coalesce(1)  # dirty set is tile-bounded; one file per batch
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(log_dir)
        )

    q = (
        stream.writeStream.foreachBatch(log_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def dirty_tiles_since(
    spark: SparkSession, log_dir: str, after_batch_id: int = -1
) -> DataFrame:
    """Compactor read side: distinct dirty (zoom, tile_h) logged after
    the given high-water batch id (partition-pruned on batch_id)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(log_dir)
        .where(F.col("batch_id") > after_batch_id)
        .select("zoom", "tile_h")
        .dropDuplicates(["zoom", "tile_h"])
    )


def run_incremental_build(
    spark: SparkSession,
    pages_dir: str,
    planet_dir: str,
    checkpoint_dir: str,
    config=None,
    await_termination: bool = True,
    defer_zoom_below: int | None = None,
    flush_every: int | None = None,
    max_files_per_trigger: int = 64,
):
    """Continuously-maintained tile pyramid: each page micro-batch folds
    into the planet via ``plans.compaction.compact_planet`` (dirty-tile
    recompose only). The first batch against an empty planet dir
    bootstraps with a full ``build_planet``.

    ``defer_zoom_below`` passes through to compaction (low-zoom
    overview tiles recompose only at flush); ``flush_every=K`` folds
    the deferred set after every K compacted batches.

    Exactly-once: ``foreachBatch`` can replay a batch after a crash;
    compaction appends are not naturally idempotent, so the applied
    batch high-water mark rides ``_compaction.json``. The stamp is
    ATOMIC with the fold: ``compact_planet`` writes ``stream_batch_id``
    into its own compaction record in the same json write, so no crash
    point leaves a folded-but-unmarked batch. Bootstrap uses a
    ``bootstrap_pending`` marker written BEFORE ``build_planet`` runs:
    a crash mid-bootstrap replays into ``build_planet``'s stage-resume
    (idempotent), then finalizes the marker. A planet built offline
    (lineage present, no compaction log) is adopted with a synthetic
    ``prebuilt`` bootstrap record and the first batch folds normally.
    """
    import os

    from ..plans.compaction import (
        compact_planet,
        flush_deferred,
        resolve_manifest,
    )
    from ..plans.pipeline import (
        BuildConfig,
        atomic_json_write,
        build_planet,
        read_json,
    )

    config = config or BuildConfig()
    # the exactly-once ledger: every write is an atomic replace, so a
    # crash mid-write never leaves torn JSON behind
    log_path = os.path.join(planet_dir, "_compaction.json")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        log = read_json(log_path, [])
        if not any(r.get("bootstrap") for r in log):
            pending = next((r for r in log if "bootstrap_pending" in r), None)
            lineage_exists = os.path.exists(
                os.path.join(planet_dir, "points_sorted", "_lineage.json")
            )
            if pending is not None or not lineage_exists:
                # fresh planet, or a crash-replay of a mid-flight
                # bootstrap (build_planet resumes finished stages)
                if pending is None:
                    log.append({"bootstrap_pending": batch_id})
                    atomic_json_write(log_path, log)
                build_planet(spark, batch_df, planet_dir, config)
                log = read_json(log_path, [])
                for r in log:
                    if "bootstrap_pending" in r:
                        bid = r.pop("bootstrap_pending")
                        r.update({"bootstrap": True, "stream_batch_id": bid})
                atomic_json_write(log_path, log)
                return
            # lineage but no compaction log: adopt an offline build
            log.append({"bootstrap": True, "prebuilt": True})
            atomic_json_write(log_path, log)
        applied = {r["stream_batch_id"] for r in log if "stream_batch_id" in r}
        if batch_id in applied:
            return  # crash-replay of an already-folded batch
        # each fold logs its manifest rows; folding the log into the
        # base manifest (O(planet tiles)) runs once, after
        # awaitTermination below
        compact_planet(
            spark, planet_dir, batch_df, config,
            defer_zoom_below=defer_zoom_below,
            stream_batch_id=batch_id,
            defer_manifest=True,
        )
        if defer_zoom_below is not None and flush_every:
            # count compaction records (not bootstrap, not flushes)
            # since the last flush; a crash between compact and flush
            # self-heals — the next batch sees count > flush_every
            since_flush = 0
            for r in read_json(log_path, []):
                if r.get("flush"):
                    since_flush = 0
                elif not r.get("bootstrap") and "bootstrap_pending" not in r:
                    since_flush += 1
            if since_flush >= flush_every:
                flush_deferred(
                    spark, planet_dir, config, defer_manifest=True
                )

    q = (
        read_pages_stream(spark, pages_dir, max_files_per_trigger)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
        # fold the drain's tile_manifest generations into the base once
        # (latest-generation-wins). A crash before this point leaves the
        # log in place; the next drain's resolve folds it — idempotent.
        resolve_manifest(spark, planet_dir)
    return q


def run_ingest(
    spark: SparkSession,
    pages_dir: str,
    points_dir: str,
    checkpoint_dir: str,
    await_termination: bool = True,
):
    """One incremental ingest pass over all currently-available files."""
    stream = incremental_points(read_pages_stream(spark, pages_dir))
    q = (
        stream.writeStream.format("parquet")
        .option("path", points_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
