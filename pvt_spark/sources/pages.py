"""Deterministic synthetic Common-Crawl-style pages source.

Produces the engine's input table per BASELINE.json input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Generation is **hash-deterministic per page id** (splitmix64 streams),
so the same (n_pages, seed) yields byte-identical rows regardless of
partitioning or executor count — required for the byte-identical
extraction invariant and for resume checks.

Spatial mixture (FIXTURES.md §1): ~80% of geo mentions cluster around a
few "urban" hot cells (exercises hot-tile splitting), ~20% uniform over the
world bbox; page -> mention multiplicity is 0..3.

This module is test/bench scaffolding — the real engine ingests an
existing Iceberg/parquet pages table via ``read_pages``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("page_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

# hot "urban" cells (lon_dm7, lat_dm7): SF, NYC, London, Tokyo, Lagos
HOT_CELLS = np.array(
    [
        (-1224194000, 377749000),
        (-740060000, 407128000),
        (-1278000, 515074000),
        (1396917000, 356895000),
        (33792000, 64541000),
    ],
    dtype=np.int64,
)

_LANGS = np.array(["en", "de", "fr", "es", "pt", "ja"])
_WORDS = np.array(
    "the quick brown fox jumps over lazy dog map tile vector planet "
    "hilbert curve zoom render layer feature node way relation crawl "
    "page index spatial join query engine spark shuffle partition".split()
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — one well-mixed u64 per input u64."""
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _stream(ids: np.ndarray, salt: int, seed: int) -> np.ndarray:
    mix = (salt * 0xA24BAED4963EE407 + seed) & 0xFFFFFFFFFFFFFFFF
    return _splitmix64(ids.astype(np.uint64) ^ np.uint64(mix))


def _mentions_for(ids: np.ndarray, seed: int):
    """Per-page geo mentions: (counts, list-of-(lat_dm7, lon_dm7) arrays)."""
    n_mentions = (_stream(ids, 1, seed) % np.uint64(4)).astype(np.int64)  # 0..3
    out = []
    for j in range(3):
        mask = n_mentions > j
        s_kind = _stream(ids, 10 + j, seed)
        s_cell = _stream(ids, 20 + j, seed)
        s_lon = _stream(ids, 30 + j, seed)
        s_lat = _stream(ids, 40 + j, seed)
        is_hot = (s_kind % np.uint64(100)) < np.uint64(80)
        cell = (s_cell % np.uint64(len(HOT_CELLS))).astype(np.int64)
        # hot: +-0.25 deg jitter around the hot cell; cold: world bbox
        jlon = (s_lon % np.uint64(5_000_000)).astype(np.int64) - 2_500_000
        jlat = (s_lat % np.uint64(5_000_000)).astype(np.int64) - 2_500_000
        hot_lon = HOT_CELLS[cell, 0] + jlon
        hot_lat = HOT_CELLS[cell, 1] + jlat
        cold_lon = (s_lon % np.uint64(3_600_000_000)).astype(np.int64) - 1_800_000_000
        cold_lat = (s_lat % np.uint64(1_700_000_000)).astype(np.int64) - 850_000_000
        lon = np.where(is_hot, hot_lon, cold_lon)
        lat = np.where(is_hot, hot_lat, cold_lat)
        out.append((mask, lon, lat))
    return n_mentions, out


def _gen_batch(ids: np.ndarray, seed: int) -> pd.DataFrame:
    n = len(ids)
    n_mentions, mention_cols = _mentions_for(ids, seed)
    lang = _LANGS[(_stream(ids, 2, seed) % np.uint64(len(_LANGS))).astype(np.int64)]
    ts = pd.to_datetime(
        1704067200 + (_stream(ids, 3, seed) % np.uint64(31_536_000)).astype(np.int64),
        unit="s",
    )
    # 8 body words per page, hash-chosen
    word_idx = [
        (_stream(ids, 50 + k, seed) % np.uint64(len(_WORDS))).astype(np.int64)
        for k in range(8)
    ]
    urls = [f"https://example.org/crawl/{int(i)}" for i in ids]
    htmls, texts = [], []
    for r in range(n):
        body_words = " ".join(_WORDS[w[r]] for w in word_idx)
        mentions = []
        for mask, lon, lat in mention_cols:
            if mask[r]:
                mentions.append(f"geo:{lat[r] / 1e7:.7f},{lon[r] / 1e7:.7f}")
        title = f"Page {int(ids[r])}"
        mention_html = "".join(f"<p>located at {m}</p>" for m in mentions)
        html = (
            f"<html><head><title>{title}</title>"
            f'<meta charset="utf-8"/><script>var x=1;</script></head>'
            f"<body><h1>{title}</h1><p>{body_words}</p>{mention_html}</body></html>"
        )
        text_lines = [title, title, body_words] + [f"located at {m}" for m in mentions]
        htmls.append(html.encode("utf-8"))
        texts.append("\n".join(text_lines))
    return pd.DataFrame(
        {
            "page_id": ids,
            "url": urls,
            "warc_ts": ts,
            "html": htmls,
            "text": texts,
            "lang": lang,
        }
    )


def synthesize_pages(
    spark: SparkSession,
    n_pages: int,
    seed: int = 42,
    partitions: int | None = None,
    start: int = 0,
) -> DataFrame:
    """Distributed deterministic pages table. Safe at any scale: generation
    is per-row hash-driven, so it parallelizes with no coordination.

    ``start`` offsets the page-id (and therefore url) range: urls are
    id-derived, so two tables only have disjoint urls if their id
    ranges are disjoint. Use it to synthesize genuinely NEW crawl
    batches (fresh urls) as opposed to re-crawls (same urls, new
    content) — compaction of mixed planets requires the former because
    way refs resolve by node id (OSM node-id uniqueness analog)."""
    default_par = spark.sparkContext.defaultParallelism
    partitions = partitions or max(default_par * 2, n_pages // 50_000)
    base = spark.range(start, start + n_pages, 1, partitions)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            yield _gen_batch(ids, seed)

    return base.mapInPandas(gen, PAGES_SCHEMA)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Production entry: read an existing pages table (parquet/Iceberg)."""
    return spark.read.parquet(path)
