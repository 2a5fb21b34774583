"""The checkpointed planet build — stages, lineage, resumability.

Reference lifecycle (src/main.rs:87-113): convert -> sort -> tree ->
render, each persisting files to the planet dir; those file boundaries
are the reference's resume points. Here every stage commits a parquet
snapshot, then atomically replaces its ``_lineage.json`` sidecar:
``stage``, ``config`` (the BuildConfig fingerprint), ``fingerprint``
(the resume key), ``inputs``, ``row_count``, per-file ``partitions``
row counts, ``wall_sec`` and ``ts``. The resume key hashes the config
with the upstream stages' keys and, for external inputs (``pages``,
and ``ways``/``relations`` when passed), every scanned file's path,
size and mtime_ns: a rewritten input recomputes its stage and
everything downstream. ``build_planet`` skips any stage whose sidecar
carries a matching key — Iceberg-style snapshot semantics without an
Iceberg catalog (swap ``.write.parquet`` for an Iceberg table write on
a real cluster; the lineage JSON maps 1:1 onto Iceberg snapshot
summary properties). Compaction (``compaction.py``) folds through the
same snapshot helpers and the same point, content and compose code.

Stage graph (shuffle-minimal; see build_planet docstring):

  pages --extract+geotag+featureize+hilbert-sort--> points_sorted
        --leaf agg + 16x rollup--> tile_tree
        --inline rules + zoom explode, task-local sorted write--> content
        --range cluster + phase1 finals (+ boundary merge)--> tiles
        --counts--> tile_manifest / zoom_metrics
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.geo import grid_x, grid_y
from ..manifest import DEFAULT_MANIFEST, Manifest, compile_rules
from ..operators.compose import compose_features, project_geometry, tag_kv
from ..operators.content import (
    render_content,
    tile_manifest,
    write_content,
    zoom_metrics_from_manifest,
)
from ..operators.external import (
    external_members_from_geometry,
    external_relation_members,
)
from ..operators.extract import EXTRACTOR_VERSION
from ..operators.feature_h import (
    assign_relation_h,
    assign_way_h_geometry,
    relation_point_geometry,
    relation_ring_geometry,
)
from ..operators.geotag import pages_to_points
from ..operators.hilbert_sort import hilbert_sort
from ..operators.leaves import build_leaves
from ..operators.rules import include_evals, include_tags
from ..operators.tree import build_tile_tree
from ..session import held_caches, local_frame
from ..sources.ways import synthesize_relations, synthesize_ways

PIPELINE_VERSION = 5  # v5: hot tiles split on the (zoom, tile_h, h) range key

# ---------------------------------------------------------------------------
# Snapshot format, shared by the build and the compaction fold: data is
# committed first, then the JSON record beside it is atomically replaced
# ---------------------------------------------------------------------------


def read_json(path: str, default=None):
    """The JSON document at ``path``, or ``default`` if there is none."""
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def atomic_json_write(path: str, obj) -> None:
    """Crash-safe json replace: a torn in-place truncate-and-write would
    fail every later read. Write a sibling tmp then os.replace (atomic
    rename)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".__tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _parquet_files(root: str):
    """(path relative to ``root``, path) of every parquet file under it."""
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                fp = os.path.join(dirpath, fn)
                yield os.path.relpath(fp, root), fp


def write_lineage(stage_dir: str, **fields) -> None:
    """Merge ``fields`` into a stage's ``_lineage.json`` with its row
    count per parquet file, read from footers only (driver-side metadata,
    no Spark job — the Iceberg-manifest analog).

    Incremental: footers already counted in the sidecar are reused (an
    append-only stage accumulates files every fold, so the walk stays
    O(new files)); entries whose file disappeared (swap-written stages)
    drop."""
    import pyarrow.parquet as pq

    lpath = os.path.join(stage_dir, "_lineage.json")
    lin = read_json(lpath, {})
    prev = lin.get("partitions") or {}
    counts: dict[str, int] = {}
    for rel, fp in _parquet_files(stage_dir):
        if rel in prev:
            counts[rel] = prev[rel]
            continue
        try:
            counts[rel] = pq.ParquetFile(fp).metadata.num_rows
        except Exception:
            pass
    lin.update(fields, row_count=int(sum(counts.values())), partitions=counts)
    atomic_json_write(lpath, lin)


def swap_write(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Overwrite a stage dir that ``df`` may itself be reading from:
    materialize to a sibling tmp dir first, then swap. (On an object
    store this becomes a metadata commit — Iceberg snapshot swap.) The
    stage's sidecar moves over with the data; callers restamp it with
    ``write_lineage``."""
    tmp = path + "__compact_tmp"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(tmp)
    lineage = os.path.join(path, "_lineage.json")
    if os.path.exists(lineage):
        os.replace(lineage, os.path.join(tmp, "_lineage.json"))
    shutil.rmtree(path)
    os.rename(tmp, path)


# ---------------------------------------------------------------------------
# Generation logs: a fold never rewrites a base table. The rows it changes
# in a (zoom, tile_h)-keyed table land in ``<table>_delta/gen=N``; readers
# resolve the base plus the committed generations latest-wins per key,
# and ``materialize`` folds a log back into its base
# ---------------------------------------------------------------------------

# the tables a fold changes by key; every fold or flush takes ONE
# generation number for all of them
LOGGED_TABLES = ("tiles", "tile_tree", "tile_manifest")


def gen_path(planet_dir: str, table: str, gen: int) -> str:
    return os.path.join(planet_dir, f"{table}_delta", f"gen={gen}")


def _gen_dirs(planet_dir: str, table: str) -> list[int]:
    """The numbers of every ``gen=N`` dir of ``table``'s log."""
    log = os.path.join(planet_dir, f"{table}_delta")
    if not os.path.isdir(log):
        return []
    return [int(d[len("gen="):]) for d in os.listdir(log) if d.startswith("gen=")]


def generations(planet_dir: str, table: str) -> list[int]:
    """Committed generations of ``table``'s log, ascending: the
    ``gen=N`` dirs whose write committed (Spark's ``_SUCCESS`` marker).
    An interrupted write leaves none, so no reader sees its files."""
    return sorted(
        g
        for g in _gen_dirs(planet_dir, table)
        if os.path.exists(os.path.join(gen_path(planet_dir, table, g), "_SUCCESS"))
    )


def next_generation(planet_dir: str) -> int:
    """One past the highest ``gen=`` dir of any table's log, committed
    or not: a fold that logs only the tree still uses up its number, and
    an interrupted write's number is never reused."""
    return 1 + max((g for t in LOGGED_TABLES for g in _gen_dirs(planet_dir, t)), default=0)


def overlay(base: DataFrame, rows: DataFrame) -> DataFrame:
    """``base`` with the rows of ``rows``' (zoom, tile_h) keys replaced by
    ``rows`` (``base``'s columns of them): a broadcast anti-join, so the
    base is not shuffled."""
    keys = F.broadcast(rows.select("zoom", "tile_h"))
    return base.join(keys, ["zoom", "tile_h"], "left_anti").unionByName(
        rows.select(*base.columns)
    )


def read_table(spark: SparkSession, planet_dir: str, table: str) -> DataFrame:
    """A planet table as of its newest committed generation: per
    (zoom, tile_h) the row of the highest generation wins, the base
    table being generation 0. A table without a log is its base scan.

    A generation holds one row per key (every writer writes a key once),
    so only two or more generations need the per-key window. Key
    predicates above the view (serve.py's tile lookups) push down to
    every scan: through the union, the anti-join's left side and the
    window."""
    base = spark.read.parquet(os.path.join(planet_dir, table))
    gens = generations(planet_dir, table)
    if not gens:
        return base
    log = None
    for g in gens:
        rows = spark.read.schema(base.schema).parquet(gen_path(planet_dir, table, g))
        rows = rows.withColumn("_gen", F.lit(g))
        log = rows if log is None else log.unionByName(rows)
    if len(gens) > 1:
        newest = Window.partitionBy("zoom", "tile_h").orderBy(F.col("_gen").desc())
        log = log.withColumn("_rn", F.row_number().over(newest)).where(F.col("_rn") == 1)
    return overlay(base, log)


def materialize(
    spark: SparkSession, planet_dir: str, table: str, partition_by: str | None = None
) -> int:
    """Fold ``table``'s committed generations into its base (the LSM
    'major compaction'), stamp the base's lineage with the newest one
    and drop the log, uncommitted leftovers included. Returns the number
    of log rows folded, read from parquet footers (0: nothing to do)."""
    import pyarrow.parquet as pq

    gens = generations(planet_dir, table)
    n = sum(
        pq.read_metadata(fp).num_rows
        for g in gens
        for _, fp in _parquet_files(gen_path(planet_dir, table, g))
    )
    if gens:
        path = os.path.join(planet_dir, table)
        swap_write(read_table(spark, planet_dir, table), path, partition_by)
        write_lineage(path, compaction_gen=gens[-1])
    shutil.rmtree(os.path.join(planet_dir, f"{table}_delta"), ignore_errors=True)
    return n


def check_config(planet_dir: str, config: BuildConfig, what: str) -> None:
    """Raise unless ``config`` fingerprint-matches the planet's base
    build — folding under different rules would splice tiles rendered
    under two manifests."""
    lin = read_json(os.path.join(planet_dir, "points_sorted", "_lineage.json"), {})
    if lin.get("config") != config.fingerprint():
        raise ValueError(f"{what} config fingerprint does not match the base build")


def timed(steps: dict, name: str, fn):
    """Run ``fn``, add its wall seconds to ``steps[name]`` and return its
    result."""
    t = time.time()
    out = fn()
    steps[name] = round(steps.get(name, 0.0) + time.time() - t, 3)
    return out


def input_identity(df: DataFrame) -> list:
    """``[file, size, mtime_ns]`` for every file ``df`` scans; an
    in-memory frame scans none and yields ``[]``."""
    out = []
    for f in sorted(df.inputFiles()):
        st = os.stat(unquote(urlparse(f).path))
        out.append([f, st.st_size, st.st_mtime_ns])
    return out


@dataclass
class BuildConfig:
    leaf_zoom: int = 12
    tags_from_url: bool = True  # synthesize feature tags from page urls
    # mixed-build mode: derive this many ways/relations from the points
    # (sources/ways.py) when the caller passes no way/relation tables
    synth_ways: int = 0
    synth_relations: int = 0
    # "rings" (default): assemble member ways into winding-normalized
    # outer/hole rings (relation_ring_geometry — the fixed semantics,
    # oracle-certified by q35); "point": render each relation at its
    # mean-h — the documented reference-parity mode (the reference
    # ships with relation rendering disabled due to a known bug,
    # src/hilbert/leaf.rs:155-166)
    relation_geometry: str = "rings"
    manifest: Manifest = field(default_factory=lambda: DEFAULT_MANIFEST)

    def fingerprint(self) -> str:
        """Every setting that shapes the built rows: the full rule
        bodies (sets hash as sorted lists), layers and tag options."""
        m = self.manifest
        return json.dumps(
            {
                "pipeline": PIPELINE_VERSION,
                "extractor": EXTRACTOR_VERSION,
                "leaf_zoom": self.leaf_zoom,
                "tags_from_url": self.tags_from_url,
                "synth_ways": self.synth_ways,
                "synth_relations": self.synth_relations,
                "relation_geometry": self.relation_geometry,
                "manifest": [
                    m.leaf_zoom,
                    m.layer_order,
                    m.layers,
                    m.all_tags,
                    {name: asdict(rule) for name, rule in m.rules.items()},
                ],
            },
            sort_keys=True,
            default=sorted,
        )


class Stage:
    """One checkpointed stage: compute -> write data -> lineage sidecar.

    ``inputs`` maps each input name to its identity: an upstream
    stage's resume fingerprint, or ``input_identity`` of an external
    frame. The resume fingerprint hashes the config fingerprint with
    those identities, so the stage recomputes when its config, any
    upstream stage or any input file (path, size, mtime_ns) changed.
    In-memory inputs (e.g. ``synthesize_pages``) have no files: their
    stages resume on the config alone. A stage dir without a readable
    sidecar — a crash between the data write and the sidecar write, or
    a torn sidecar — recomputes; the config fingerprint is kept under
    its own ``config`` key for compaction's base-build check."""

    def __init__(self, planet_dir: str, name: str, config_fp: str, inputs: dict):
        self.path = os.path.join(planet_dir, name)
        self.lineage_path = os.path.join(self.path, "_lineage.json")
        self.name = name
        self.config_fp = config_fp
        self.inputs = sorted(inputs)
        key = json.dumps([config_fp, inputs], sort_keys=True)
        self.fingerprint = hashlib.sha256(key.encode()).hexdigest()

    def is_complete(self) -> bool:
        try:
            lin = read_json(self.lineage_path, {})
        except (ValueError, OSError):
            return False
        return lin.get("fingerprint") == self.fingerprint

    def run(self, spark: SparkSession, compute, writer=None) -> DataFrame:
        if self.is_complete():
            return spark.read.parquet(self.path)
        t0 = time.time()
        # caches the compute persists (session.persist) live until the
        # write has run
        with held_caches():
            df = compute()
            if writer is None:
                df.write.mode("overwrite").parquet(self.path)
            else:
                writer(df, self.path)
        out = spark.read.parquet(self.path)
        # the overwrite removed any old sidecar; this one commits the data
        write_lineage(
            self.path,
            stage=self.name,
            config=self.config_fp,
            fingerprint=self.fingerprint,
            inputs=self.inputs,
            wall_sec=round(time.time() - t0, 3),
            ts=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        )
        return out


def _featureize(points: DataFrame, tags_from_url: bool) -> DataFrame:
    """points(url, mention_idx, lon/lat, h) -> features with stable 64-bit
    ids + synthetic tags (pages carry no OSM tags; tag each mention so
    the rule engine has something to chew on — key chosen by hash)."""
    df = points.withColumn("feature_id", F.xxhash64("url", "mention_idx"))
    if tags_from_url:
        kinds = F.array(
            *[F.lit(x) for x in ["place", "amenity", "highway", "building", "shop", "natural", "power"]]
        )
        vals = F.array(
            *[F.lit(x) for x in ["city", "bus_station", "primary", "yes", "supermarket", "tree", "pole"]]
        )
        idx = F.pmod(F.xxhash64("feature_id"), F.lit(7)).cast("int")
        df = df.withColumn(
            "tags",
            F.map_from_arrays(
                F.array(F.element_at(kinds, idx + 1), F.lit("source")),
                F.array(F.element_at(vals, idx + 1), F.lit("crawl")),
            ),
        )
    return df


def _layer_order(config: BuildConfig) -> list[str]:
    return ["no_rule"] + config.manifest.layer_order


def _render_features(spark, content: DataFrame, compiled, config: BuildConfig) -> DataFrame:
    """Content rows (point, multi-point or their union) -> render-features
    for ``compose_features``: one row per feature x layer, tags as
    ``kv``/``n_tags``, the geometry columns the rows carry."""
    evals_df = include_evals(spark, compiled)
    feats = include_tags(
        content.join(F.broadcast(evals_df), "eval_i", "left"),
        all_tags=config.manifest.all_tags,
    )
    geometry = [c for c in ("gx", "gy", "geom_x", "geom_y", "geom_seq") if c in feats.columns]
    return tag_kv(
        feats.select(
            "zoom",
            "tile_h",
            "feature_id",
            "h",
            F.explode("layers").alias("layer"),
            "out_tags",
            *geometry,
        )
    )


def sorted_points(pages: DataFrame, config: BuildConfig) -> DataFrame:
    """extract + geotag + feature ids + global Hilbert sort (O1) — one
    shuffle, h order: the points_sorted stage and a fold's delta points."""
    return hilbert_sort(_featureize(pages_to_points(pages), config.tags_from_url))


def point_content(points: DataFrame, config: BuildConfig, compiled) -> DataFrame:
    """Rule-pyramid content rows of point features, grid coords carried
    for the compose to project (purely per-feature, so a fold's delta
    content appends to the build's)."""
    pts = points.withColumn("gx", grid_x(F.col("lon_dm7"))).withColumn(
        "gy", grid_y(F.col("lat_dm7"))
    )
    return render_content(
        pts, config.manifest, compiled, carry_cols=["tags", "gx", "gy"]
    )


def manifest_input(content: DataFrame, content_mp: DataFrame | None) -> DataFrame:
    """(zoom, tile_h, feature_id) rows of point + multi-point content."""
    c = content.select("zoom", "tile_h", "feature_id")
    if content_mp is not None:
        c = c.unionByName(content_mp.select("zoom", "tile_h", "feature_id"))
    return c


def compose_planet_tiles(
    content: DataFrame, content_mp: DataFrame | None, compiled, config: BuildConfig
) -> DataFrame:
    """Tile payload assembly (A6/P7/DP) over point content and, in a
    mixed build, the multi-point content (tile-local simplified coords,
    ``project_geometry``) in any layout: one union, one compose, so every
    tile's nodes, ways and relations assemble together
    (``compose_features`` clusters them). The build composes the whole
    planet, a fold its dirty slice."""
    if content_mp is not None:
        content = content.unionByName(content_mp, allowMissingColumns=True)
    return compose_features(
        _render_features(content.sparkSession, content, compiled, config),
        _layer_order(config),
    )


def build_planet(
    spark: SparkSession,
    pages: DataFrame,
    planet_dir: str,
    config: BuildConfig | None = None,
    ways: DataFrame | None = None,
    relations: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the full build; returns the stage DataFrames.

    Stage graph is shuffle-minimal: ONE full-data shuffle (the Hilbert
    range partition, fused with extraction into the points stage); the
    tree is a 16x-shrinking rollup; content is written with no shuffle
    (a task-local sort per zoom); tile assembly range-clusters the
    index+attr rows once (``compose_features``: phase 1 emits finals from
    that shuffle, phase 2 shuffles only chunk rows).

    Mixed builds (reference compose.rs:41-349 + leaf.rs:214-380): pass
    ``ways(feature_id, refs array<long>, tags map)`` and/or
    ``relations(feature_id, members array<struct<etype,ref>>, tags)``
    — or set config.synth_ways/synth_relations to derive them from the
    points. Way/relation h-assignment (J3/A1/A2), external leaf
    membership (J5/J6), and line/ring geometry then flow through the
    SAME compose as points: the point and multi-point content are one
    union, so a tile's node/way/relation features assemble in one phase 1
    (finals for batch-interior tiles) and one phase-2 merge.
    """
    config = config or BuildConfig()
    os.makedirs(planet_dir, exist_ok=True)
    config_fp = config.fingerprint()
    compiled = compile_rules(config.manifest)
    # input identities: external frames by their files, stages (added as
    # they are declared) by their resume fingerprints
    idents = {
        name: input_identity(df)
        for name, df in (("pages", pages), ("ways", ways), ("relations", relations))
        if df is not None
    }

    def stage(name: str, *inputs: str) -> Stage:
        st = Stage(
            planet_dir, name, config_fp, {i: idents[i] for i in inputs if i in idents}
        )
        idents[name] = st.fingerprint
        return st

    # 1. extract + geotag + feature ids + global Hilbert sort (O1) —
    #    one stage, one shuffle, written in h order
    points_sorted = stage("points_sorted", "pages").run(
        spark, lambda: sorted_points(pages, config)
    )

    # 1b. multi-point features: way/relation h-assignment + geometry
    has_mp = ways is not None or relations is not None or config.synth_ways > 0
    way_feats = rel_feats = external = None
    if has_mp:
        if ways is not None:
            src_ways = ways
        elif config.synth_ways > 0:
            src_ways = synthesize_ways(points_sorted, config.synth_ways)
        else:  # relations-only build (node-member relations)
            src_ways = local_frame(
                spark, [], "feature_id long, refs array<long>, tags map<string,string>"
            )
        # fused J3+J1: one explode/join + one feature_id shuffle yields
        # both the way h and the ordered grid geometry arrays
        way_feats = stage("way_features", "points_sorted", "ways").run(
            spark, lambda: assign_way_h_geometry(src_ways, points_sorted)
        )
        src_rels = relations
        if src_rels is None and config.synth_relations > 0:
            src_rels = synthesize_relations(way_feats, config.synth_relations)
        if src_rels is not None:
            def _rel_geom() -> DataFrame:
                rel_h = assign_relation_h(src_rels, points_sorted, way_feats).where(
                    F.col("h").isNotNull()
                )
                if config.relation_geometry == "rings":
                    return relation_ring_geometry(rel_h, way_feats)
                return relation_point_geometry(rel_h)

            rel_feats = stage(
                "relation_features", "points_sorted", "way_features", "relations"
            ).run(spark, _rel_geom)

        # 1c. external leaf membership (J5/J6): leaves a way/relation's
        #     geometry enters beyond its home leaf
        def _external() -> DataFrame:
            # leaf membership off the ways' own geometry arrays — no join
            # against the planet-sized points table, and single-leaf ways
            # are dropped map-side before any encode or shuffle
            ext = external_members_from_geometry(way_feats, config.leaf_zoom)
            if rel_feats is not None:
                # rings mode emits one row per assembled ring; membership
                # only needs (feature_id, h, members) once per relation —
                # without the dedup every member row and typed h-join
                # would run once per ring
                ext_r = external_relation_members(
                    rel_feats.dropDuplicates(["feature_id"]),
                    points_sorted,
                    way_feats,
                    config.leaf_zoom,
                )
                pairs = (
                    ext.select("leaf_h", F.explode("external").alias("fid"))
                    .unionByName(
                        ext_r.select("leaf_h", F.explode("external").alias("fid"))
                    )
                    .distinct()
                )
                ext = pairs.groupBy("leaf_h").agg(
                    F.sort_array(F.collect_set("fid")).alias("external")
                )
            return ext

        external = stage(
            "external_members", "points_sorted", "way_features", "relation_features"
        ).run(spark, _external)

    # 2. tile tree (A3 leaves + A4 rollup in one stage; the leaf level IS
    #    the zoom==leaf_zoom slice of the tree); mixed builds pivot counts
    #    per entity class like the reference's n/w/r leaf columns
    def _tree() -> DataFrame:
        if not has_mp:
            return build_tile_tree(
                build_leaves(points_sorted, config.leaf_zoom), config.leaf_zoom
            )
        ents = points_sorted.select("h", F.lit("n").alias("entity"))
        ents = ents.unionByName(way_feats.select("h", F.lit("w").alias("entity")))
        if rel_feats is not None:
            # ring mode emits one row PER RING; the tree counts relations
            rels = rel_feats.select("feature_id", "h").dropDuplicates(["feature_id"])
            ents = ents.unionByName(rels.select("h", F.lit("r").alias("entity")))
        return build_tile_tree(
            build_leaves(ents, config.leaf_zoom, entity_col="entity"),
            config.leaf_zoom,
        )

    # 3. rule-filtered pyramid content (F1-F4 + A5), attrs denormalized so
    #    tile assembly needs no join; written by zoom, tile_h-sorted per
    #    task (write_content) — point_content, run by the content stage
    #    below

    # 3b. multi-point content: rule pyramid over way/relation features
    #     PLUS external leaf rows (U1/F5: a leaf's tile also renders the
    #     ways/relations whose geometry enters it from elsewhere).
    #     Geometry is projected + per-zoom-simplified HERE, before the
    #     write: the zoom explode would otherwise ship full-resolution
    #     coordinates once per pyramid level through the compose shuffle
    #     and tile assembly would discard ~90% of the points after it
    def _content_mp() -> DataFrame:
        # geom_seq: deterministic minor key for multi-row features (a
        # relation's rings share feature_id AND h) — carried through to
        # the compose sorts so payload bytes never depend on shuffle
        # arrival order. Ways are single-geometry: always 0.
        feats = way_feats.select(
            "feature_id", "h", "tags", "geom_x", "geom_y",
            F.lit(0).alias("geom_seq"),
        )
        if rel_feats is not None:
            seq = (
                F.col("geom_seq")
                if "geom_seq" in rel_feats.columns
                else F.lit(0).alias("geom_seq")
            )
            feats = feats.unionByName(
                rel_feats.select(
                    "feature_id", "h", "tags", "geom_x", "geom_y",
                    seq.alias("geom_seq"),
                )
            )
        # widen to the core count BEFORE the zoom explode: the explode
        # multiplies each feature ~13x and the projection UDF runs
        # map-side on the exploded rows, so parallelism must exist
        # upstream — and the full-resolution shuffle this costs is one
        # row per FEATURE, not per (feature, zoom) row
        width = spark.sparkContext.defaultParallelism
        feats = feats.repartition(width)
        c = render_content(
            feats, config.manifest, compiled,
            carry_cols=["tags", "geom_x", "geom_y", "geom_seq"],
        )
        ext_pairs = external.select(
            "leaf_h", F.explode("external").alias("feature_id")
        )
        leaf_rows = (
            c.where(F.col("zoom") == config.leaf_zoom)
            .drop("tile_h")
            .join(ext_pairs, "feature_id")
            .withColumnRenamed("leaf_h", "tile_h")
        )
        # the union keeps both sides' partitions: a narrow coalesce
        # writes it at the same width, one task (and file) per core
        return project_geometry(c.unionByName(leaf_rows.select(*c.columns))).coalesce(
            width
        )

    # tree / content / content_mp are INDEPENDENT given their inputs —
    # run them as concurrent Spark jobs (separate driver threads): the
    # small tree rollup and the content shuffle fill each other's idle
    # cores / stage tails instead of serializing their fixed commit costs.
    # PVT_SERIAL_STAGES=1 serializes them (one pool worker) so per-stage
    # lineage walls measure each stage's OWN plan, not co-scheduling —
    # used by scripts/stage_scaling.py for clean per-stage efficiency
    serial = bool(os.environ.get("PVT_SERIAL_STAGES"))
    content_mp = None
    with ThreadPoolExecutor(max_workers=1 if serial else 3) as pool:
        f_tree = pool.submit(
            stage("tile_tree", "points_sorted", "way_features", "relation_features").run,
            spark,
            _tree,
        )
        f_content = pool.submit(
            stage("content", "points_sorted").run,
            spark,
            lambda: point_content(points_sorted, config, compiled),
            write_content,
        )
        f_mp = (
            pool.submit(
                stage(
                    "content_mp", "way_features", "relation_features", "external_members"
                ).run,
                spark,
                _content_mp,
            )
            if has_mp
            else None
        )
        tree = f_tree.result()
        content = f_content.result()
        if f_mp is not None:
            content_mp = f_mp.result()

    # 4. tile payload assembly (compose_features clusters the content)
    # 5. metrics tables (S11 report analog); zoom metrics derive from the
    #    small tile manifest, not a content re-scan. tiles and manifest
    #    both read only the (already-written) content stages -> concurrent
    with ThreadPoolExecutor(max_workers=1 if serial else 2) as pool:
        f_tiles = pool.submit(
            stage("tiles", "content", "content_mp").run,
            spark,
            lambda: compose_planet_tiles(content, content_mp, compiled, config),
            lambda df, p: df.write.mode("overwrite").partitionBy("zoom").parquet(p),
        )
        f_manifest = pool.submit(
            stage("tile_manifest", "content", "content_mp").run,
            spark,
            lambda: tile_manifest(manifest_input(content, content_mp)),
        )
        tiles = f_tiles.result()
        manifest_df = f_manifest.result()
    metrics_df = stage("zoom_metrics", "tile_manifest").run(
        spark, lambda: zoom_metrics_from_manifest(manifest_df)
    )

    out = {
        "points": points_sorted,
        "points_sorted": points_sorted,
        "leaves": tree.where(F.col("zoom") == config.leaf_zoom),
        "tree": tree,
        "content": content,
        "tiles": tiles,
        "tile_manifest": manifest_df,
        "zoom_metrics": metrics_df,
    }
    if way_feats is not None:
        out["way_features"] = way_feats
    if rel_feats is not None:
        out["relation_features"] = rel_feats
    if external is not None:
        out["external"] = external
    if content_mp is not None:
        out["content_mp"] = content_mp
    return out
