"""The benchmark's workloads. Each drives the engine only through its
public entry points, times every call as a span, counts operations in a
ledger and checks the outputs outside the timed calls.

``build``  — cold points-only build, tile lookups on it, then three
             spatial joins over its points.
``ingest`` — cold mixed build (points, ways, relations) as the base, then
             page-delta folds with lookups after each generation, the
             manifest resolve and a full read of the drained planet.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import inputs
import oracle
from stats import Ledger, Spans, SpeedProbe, median, percentile, tree_cpu

BUILD_PAGES = 50_000  # pages of build's points-only build (about 75k points)
BASE_PAGES = 2000     # pages of ingest's mixed base build (about 3k points)
SYNTH_WAYS = 100      # ways and relations ingest's base build derives from its points
SYNTH_RELATIONS = 10
FOLDS = 1             # page deltas folded by ingest (run-time budget, see README)
# pages per delta, fresh urls. 0.5% of BASE_PAGES, not 0.1%: a page carries
# 0-3 geo mentions, so a 3-page delta has no point at all for about one
# seed in 64, and compact_planet then leaves an empty tiles_delta
# generation that read_tiles cannot open (an engine defect, not what
# this workload measures); 10 pages make that about one in a million
DELTA_PAGES = 10
SETUP_REPEATS = 3
MIN_LOOKUPS = 20      # build: p50 needs 20 samples (10 beyond it)
# ingest: lookups before the first fold and after each fold. Fixed counts,
# because the run's p50 pools the generations; with more after a fold
# the p50 falls inside the post-fold group, not on the boundary
LOOKUPS_BEFORE = 4
LOOKUPS_AFTER_FOLD = 16
MAX_LOOKUPS = 200
RADIUS = 200_000      # grid units (about 1.9 km at the equator)
DELTA_START = 10_000_000


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    workload: str = "build"
    trace: bool = False
    ledger: Ledger = field(default_factory=Ledger)
    spans: Spans = field(default_factory=lambda: Spans(lambda: tree_cpu(os.getpid())))
    notes: dict = field(default_factory=dict)
    lookups: list = field(default_factory=list)
    probe: SpeedProbe | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024 * 1024)


def _setup(ctx: Ctx, write) -> float:
    """Run the seeded input writer SETUP_REPEATS times (each into a fresh
    directory) and return the median wall; the last copy is kept."""
    walls = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(ctx.path("inputs"), ignore_errors=True)
        _, wall, _ = ctx.spans.run("setup", write)
        walls.append(wall)
    return median(walls)


def _pages(ctx: Ctx, lo: int = 0, hi: int = DELTA_START - 1):
    from pyspark.sql import functions as F

    pages = ctx.spark.read.parquet(ctx.path("inputs", "pages"))
    return pages.where(F.col("page_id").between(lo, hi))


def _build(ctx: Ctx, planet: str, cfg) -> float:
    from pvt_spark.plans.pipeline import build_planet

    pages = _pages(ctx)
    _, wall, op = ctx.spans.run(
        "build", lambda: build_planet(ctx.spark, pages, planet, cfg), ctx.ledger
    )
    if op not in ctx.ledger.failures:
        _check_tables(ctx, _read_table(os.path.join(planet, "tiles")), planet, op)
        ctx.notes["stage_walls"] = {
            st: _json(os.path.join(planet, st, "_lineage.json"))["wall_sec"]
            for st in os.listdir(planet)
            if os.path.exists(os.path.join(planet, st, "_lineage.json"))
        }
    return wall


def _json(path: str):
    with open(path) as f:
        return json.load(f)


def _read_table(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def _manifest(planet: str) -> dict:
    m = _read_table(os.path.join(planet, "tile_manifest"))
    return {
        (int(z), int(h)): (int(c), int(d))
        for z, h, c, d in zip(m["zoom"], m["tile_h"], m["feature_count"], m["distinct_features"])
    }


def _check_tables(ctx: Ctx, tiles, planet: str, op: int) -> None:
    """Tile digest and manifest consistency of a fresh build or a drained
    planet; ``tiles`` is its tiles table in pandas."""
    problems, digest = oracle.check_planet_tables(tiles, _manifest(planet), ctx.seed)
    for p in problems:
        ctx.ledger.fail(op, p)
    ctx.notes.setdefault("tile_digests", []).append(digest)


def _lookups(ctx: Ctx, planet: str, sample: list, window_s: float, gen: int, min_count: int) -> None:
    """One client's closed-loop tile lookups through the serving view
    for ``window_s`` seconds, and at least ``min_count`` of them."""
    from pvt_spark.operators.serve import open_planet, tile_lookup
    from pvt_spark.tile import Tile

    def window() -> None:
        tiles = open_planet(ctx.spark, planet).get("tiles")
        if tiles is None:  # open_planet drops tables it cannot open
            raise RuntimeError("the serving view of the tiles did not open")
        t_end = time.time() + window_s
        i = 0
        while i < MAX_LOOKUPS and (i < min_count or time.time() < t_end):
            kind, z, h = sample[i % len(sample)]
            t = Tile.from_zh(z, h)
            op = ctx.ledger.op("lookup")
            c0, t0 = ctx.spans.cpu_clock()[0], time.perf_counter()
            try:
                rows = tile_lookup(tiles, z, t.x, t.y).select("zoom", "tile_h", "payload").collect()
            except Exception as e:  # a failed lookup is counted, the loop goes on
                ctx.ledger.fail(op, f"{type(e).__name__}: {e}")
                rows = None
            ms = (time.perf_counter() - t0) * 1000
            cpu_ms = (ctx.spans.cpu_clock()[0] - c0) * 1000
            ctx.lookups.append(
                {"gen": gen, "kind": kind, "z": z, "h": h, "ms": ms, "cpu_ms": cpu_ms, "op": op, "rows": rows}
            )
            i += 1

    ctx.spans.run("lookup", window, ctx.ledger)


def _check_lookups(ctx: Ctx, manifest: dict, manifest_current_gen: int | None) -> None:
    """Odd-zoom lookups are empty; a lookup returns at most one row; a
    row's key is in the final manifest and decodes to that key; tiles
    sampled from the manifest are always found; lookups made at the
    generation the manifest describes decode to its counts."""
    for lk in ctx.lookups:
        rows, op, key = lk["rows"], lk["op"], (lk["z"], lk["h"])
        if rows is None:
            continue
        if lk["kind"] == "odd" and rows:
            ctx.ledger.fail(op, f"odd-zoom tile {key} returned {len(rows)} rows")
        elif len(rows) > 1:
            ctx.ledger.fail(op, f"tile {key} returned {len(rows)} rows")
        elif lk["kind"] in ("leaf", "lower") and not rows:
            ctx.ledger.fail(op, f"tile {key} of the manifest was not found")
        elif rows:
            if key not in manifest:
                ctx.ledger.fail(op, f"tile {key} is absent from the manifest but returned a row")
                continue
            current = manifest if lk["gen"] == manifest_current_gen else None
            for p in oracle.decode_problems(lk["z"], lk["h"], rows[0]["payload"], current):
                ctx.ledger.fail(op, p)
    for lk in ctx.lookups:
        lk.pop("rows")


def _lookup_sample(ctx: Ctx, planet: str) -> list:
    keys = list(_manifest(planet))
    return inputs.lookup_sample(keys, ctx.seed, MAX_LOOKUPS)


def _points(planet: str) -> dict:
    t = _read_table(os.path.join(planet, "points_sorted"))
    return {c: t[c].to_numpy() for c in ("feature_id", "lon_dm7", "lat_dm7", "h")}


def _spatial_joins(ctx: Ctx, planet: str) -> None:
    """The three joins over the planet's skewed points. Results are
    collected into this process and checked against numpy brute force
    afterwards."""
    from pvt_spark.operators.knn import radius_join_per_tile
    from pvt_spark.operators.pip import point_in_polygon_join

    spark = ctx.spark
    pts = spark.read.parquet(os.path.join(planet, "points_sorted"))
    large = inputs.large_polygons(ctx.seed)
    jagged = inputs.jagged_polygons(ctx.seed)
    host = _points(planet)
    qrows = inputs.query_rows(host, ctx.seed)
    polys_large = spark.createDataFrame(large, inputs.POLYGON_SCHEMA)
    polys_jagged = spark.createDataFrame(jagged, inputs.POLYGON_SCHEMA)
    queries = spark.createDataFrame(qrows, "query_id long, lon_dm7 int, lat_dm7 int, h long")

    def pairs(df, a: str, b: str) -> set:
        return {(r[a], r[b]) for r in df.select(a, b).collect()}

    runs = [
        ("pip", lambda: pairs(point_in_polygon_join(pts, polys_large), "feature_id", "admin_id")),
        (
            "pip_partitioned",
            lambda: pairs(
                point_in_polygon_join(pts, polys_jagged, strategy="partitioned"),
                "feature_id",
                "admin_id",
            ),
        ),
        (
            "radius",
            lambda: pairs(radius_join_per_tile(pts, queries, radius=RADIUS), "query_id", "neighbor_id"),
        ),
    ]
    results = {}
    for name, fn in runs:
        out, _, op = ctx.spans.run(name, fn, ctx.ledger)
        results[name] = (out, op)
        ctx.notes[f"{name}_rows"] = len(out) if out is not None else None

    checks = {
        "pip": lambda got: oracle.check_pip(got, host, large),
        "pip_partitioned": lambda got: oracle.check_pip(got, host, jagged),
        "radius": lambda got: oracle.check_radius(got, host, qrows, RADIUS),
    }
    for name, (out, op) in results.items():
        if out is not None:
            for p in checks[name](out):
                ctx.ledger.fail(op, p)


def run_build(ctx: Ctx) -> dict:
    from pvt_spark.plans.pipeline import BuildConfig
    from pvt_spark.sources.pages import synthesize_pages

    def write() -> None:
        synthesize_pages(ctx.spark, BUILD_PAGES, seed=ctx.seed, partitions=4).write.parquet(
            ctx.path("inputs", "pages")
        )

    setup_s = _setup(ctx, write)
    planet = ctx.path("planet")
    build_s = _build(ctx, planet, BuildConfig())
    sample = _lookup_sample(ctx, planet)
    _lookups(ctx, planet, sample, ctx.seconds, gen=0, min_count=MIN_LOOKUPS)
    _spatial_joins(ctx, planet)
    _check_lookups(ctx, _manifest(planet), manifest_current_gen=0)
    return _figures(ctx, setup_s, build_s, planet)


def mixed_config():
    """Ingest's build config: ways and relations derived from the points
    (``sources.ways``), so way/relation h-assignment, external leaf
    membership, simplification and the phase-2 chunk merge do work."""
    from pvt_spark.plans.pipeline import BuildConfig

    return BuildConfig(synth_ways=SYNTH_WAYS, synth_relations=SYNTH_RELATIONS)


def run_ingest(ctx: Ctx) -> dict:
    from pvt_spark.plans.compaction import compact_planet, read_tiles, resolve_manifest
    from pvt_spark.sources.pages import synthesize_pages

    def write() -> None:
        # base pages and the fresh-url deltas (page ids from DELTA_START)
        # in one table, one job
        synthesize_pages(ctx.spark, BASE_PAGES, seed=ctx.seed, partitions=4).unionByName(
            synthesize_pages(
                ctx.spark, FOLDS * DELTA_PAGES, seed=ctx.seed, partitions=1, start=DELTA_START
            )
        ).write.parquet(ctx.path("inputs", "pages"))

    setup_s = _setup(ctx, write)
    planet = ctx.path("planet")
    cfg = mixed_config()
    build_s = _build(ctx, planet, cfg)
    if ctx.trace:
        _snapshot_multipoint(ctx, planet)
    sample = _lookup_sample(ctx, planet)
    _lookups(ctx, planet, sample, 0.0, gen=0, min_count=LOOKUPS_BEFORE)

    for k in range(FOLDS):
        lo = DELTA_START + k * DELTA_PAGES
        delta = _pages(ctx, lo, lo + DELTA_PAGES - 1)
        ctx.spans.run(
            "fold",
            lambda: compact_planet(ctx.spark, planet, delta, cfg, defer_manifest=True),
            ctx.ledger,
        )
        _lookups(ctx, planet, sample, 0.0, gen=k + 1, min_count=LOOKUPS_AFTER_FOLD)
    _, _, op = ctx.spans.run("resolve", lambda: resolve_manifest(ctx.spark, planet), ctx.ledger)
    # a full read of the drained planet through the serving view (base
    # tiles and every generation), checked against its resolved
    # manifest: the same key set, and sampled tiles decode to its counts
    tiles, _, scan_op = ctx.spans.run(
        "scan",
        lambda: read_tiles(ctx.spark, planet).select("zoom", "tile_h", "payload").toPandas(),
        ctx.ledger,
    )
    if tiles is not None and op not in ctx.ledger.failures:
        _check_tables(ctx, tiles, planet, scan_op)
    ctx.notes["compaction"] = _json(os.path.join(planet, "_compaction.json"))
    # the resolved manifest describes the planet after the last fold,
    # which is what the last lookup window served
    _check_lookups(ctx, _manifest(planet), manifest_current_gen=FOLDS)
    if ctx.trace:
        check_ingest_equivalence(ctx, cfg)
    return _figures(ctx, setup_s, build_s, planet)


def _snapshot_multipoint(ctx: Ctx, planet: str) -> None:
    """Keep the ways and relations the base build derived. Derived again
    from the base plus the delta points they would differ, so the cold
    rebuild in ``check_ingest_equivalence`` is handed these."""
    from pvt_spark.sources.ways import synthesize_relations, synthesize_ways

    spark = ctx.spark

    def write() -> None:
        synthesize_ways(
            spark.read.parquet(os.path.join(planet, "points_sorted")), SYNTH_WAYS
        ).write.parquet(ctx.path("inputs", "ways"))
        synthesize_relations(
            spark.read.parquet(os.path.join(planet, "way_features")), SYNTH_RELATIONS
        ).write.parquet(ctx.path("inputs", "relations"))

    ctx.spans.run("check", write, ctx.ledger)


def check_ingest_equivalence(ctx: Ctx, cfg) -> None:
    """The drained planet must equal a cold rebuild over the base pages
    plus every delta, with the base build's ways and relations: tile
    md5s compared by exceptAll both ways."""
    from pyspark.sql import functions as F

    from pvt_spark.plans.compaction import read_tiles
    from pvt_spark.plans.pipeline import build_planet

    spark = ctx.spark

    def compare() -> int:
        pages = _pages(ctx, 0, DELTA_START + FOLDS * DELTA_PAGES)
        full = ctx.path("planet_rebuild")
        build_planet(
            spark, pages, full, cfg,
            ways=spark.read.parquet(ctx.path("inputs", "ways")),
            relations=spark.read.parquet(ctx.path("inputs", "relations")),
        )

        def md5s(df):
            return df.select("zoom", "tile_h", F.md5(F.col("payload")).alias("m"))

        got = md5s(read_tiles(spark, ctx.path("planet")))
        want = md5s(spark.read.parquet(os.path.join(full, "tiles")))
        return got.exceptAll(want).count() + want.exceptAll(got).count()

    diff, _, op = ctx.spans.run("check", compare, ctx.ledger)
    if diff is not None:
        ctx.ledger.check(op, diff == 0, f"{diff} tile rows differ from a cold rebuild")


# The three operations after the build, one bounded CPU figure each.
# Every workload reports every metric, so each name says which span it
# reads on each workload.
OP_METRICS = {
    "pip_or_fold_cpu_s": {"build": "pip", "ingest": "fold"},
    "pip_part_or_resolve_cpu_s": {"build": "pip_partitioned", "ingest": "resolve"},
    "radius_or_scan_cpu_s": {"build": "radius", "ingest": "scan"},
}


def _figures(ctx: Ctx, setup_s: float, build_s: float, planet: str) -> dict:
    """The run's figures, {name: (value, unit)}: the end-to-end metrics
    and the walls and raw CPU seconds beside them (reported per layer,
    see run.py). The end-to-end CPU figures and the set-up wall are
    speed-scaled: multiplied by the probe's speed_scale over the timed
    part of the run, so that a busier host, which makes the same work
    cost more seconds, moves them less."""
    timed = [s for s in ctx.spans.items if s["name"] not in ("setup", "check")]
    scale = ctx.probe.speed_scale(timed[0]["start"], timed[-1]["end"]) if ctx.probe else 1.0
    ops = [s for s in timed if s["name"] in {m[ctx.workload] for m in OP_METRICS.values()}]
    build_cpu = ctx.spans.cpu(("build",))
    figures = {
        "setup_raw_s": (setup_s, "s"),
        "setup_s": (setup_s * scale, "s"),
        "build_s": (build_s, "s"),
        "speed_scale": (scale, "x"),
        "build_raw_cpu_s": (build_cpu, "s"),
        "build_cpu_s": (build_cpu * scale, "s"),
        "ops_s": (sum(s["end"] - s["start"] for s in ops), "s"),
    }
    for name, span in OP_METRICS.items():
        cpus = [s["cpu_s"] for s in ops if s["name"] == span[ctx.workload]]
        figures[name] = (median(cpus) * scale, "s")
    figures["lookup_p50_ms"] = (percentile([lk["ms"] for lk in ctx.lookups], 50), "ms")
    figures["lookup_cpu_ms"] = (percentile([lk["cpu_ms"] for lk in ctx.lookups], 50) * scale, "ms")
    figures["planet_mb"] = (_dir_mb(planet), "MB")
    return figures


WORKLOADS = {"build": run_build, "ingest": run_ingest}
