"""S12/J7: tile lookup over the built tiles table, on two paths.

The reference serves ``planet.tile(z, x, y)`` by descending the Hilbert
tree to an index range (src/lib.rs:84-115, src/hilbert/tree.rs:146-214).
The tiles table is partitioned by zoom and Hilbert-sorted, so the same
descent has two forms here:

- **Served path.** The ``tiles`` frame ``open_planet`` returns carries a
  serving index built once from the parquet footers of ``tiles/zoom=Z``
  and of every committed ``tiles_delta/gen=G/zoom=Z``: the ``tile_h``
  min/max of each row group. A lookup reads, in the calling process and with
  pyarrow only, the ``tile_h`` column of the row groups whose range
  covers the tile, newest generation first, and the full row from the
  first one that holds it. The answer comes back as a driver-local
  frame (``LocalTableScan``), so collecting it starts no Spark job.
- **Predicate path.** Any other frame (a computed tile set, a frame
  derived from the served one) is filtered by ``zoom`` and ``tile_h``;
  Spark prunes the scan to one file/row group via the same statistics.

Both paths resolve compaction generations the way ``read_tiles`` does:
per (zoom, tile_h) the row of the highest generation wins, the base
table being generation 0.
"""

from __future__ import annotations

import os
import weakref
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.geo import zoom_h_range
from ..session import local_frame
from ..tile import Tile

_I64 = np.iinfo(np.int64)


def _in_range(z: int, x: int, y: int) -> bool:
    """Whether (z, x, y) names a tile. ``Tile.from_zxy`` wraps x/y
    outside ``[0, 2^z)`` onto another tile's h, so callers check first."""
    return 0 <= z <= 32 and 0 <= x < 1 << z and 0 <= y < 1 << z


@dataclass
class _RowGroups:
    """One zoom's row groups, newest generation first."""

    lo: np.ndarray  # tile_h min per row group (int64 min if no stats)
    hi: np.ndarray  # tile_h max per row group (int64 max if no stats)
    where: list  # (path, row group, FileMetaData) per row group


@dataclass
class _ServingIndex:
    spark: SparkSession
    schema: StructType
    zooms: dict  # zoom -> _RowGroups
    row_groups_read: int = 0  # tile_h columns read by lookups so far

    @cached_property
    def empty(self) -> DataFrame:
        return local_frame(self.spark, [], self.schema)

    def lookup(self, z: int, h: int) -> DataFrame:
        """The (z, h) row of the newest generation that has it."""
        rgs = self.zooms.get(z)
        if rgs is None:
            return self.empty
        for k in np.flatnonzero((rgs.lo <= h) & (h <= rgs.hi)):
            path, rg, meta = rgs.where[k]
            pf = pq.ParquetFile(path, metadata=meta)
            self.row_groups_read += 1
            i = pc.index(pf.read_row_group(rg, columns=["tile_h"]).column(0), h).as_py()
            if i < 0:
                continue
            cols = [f.name for f in self.schema if f.name != "zoom"]
            row = pf.read_row_group(rg, columns=cols).slice(i, 1).to_pylist()[0]
            values = [z if f.name == "zoom" else row[f.name] for f in self.schema]
            return local_frame(self.spark, [values], self.schema)
        return self.empty


def _zoom_files(root: str):
    """(zoom, parquet path) under a zoom-partitioned table dir: the files
    Spark's file index lists (names starting ``_`` or ``.`` are not data)."""
    if not os.path.isdir(root):
        return
    for zdir in os.listdir(root):
        if not zdir.startswith("zoom="):
            continue
        for name in sorted(os.listdir(os.path.join(root, zdir))):
            if not name.startswith(("_", ".")):
                yield int(zdir[len("zoom="):]), os.path.join(root, zdir, name)


def _index_planet(planet_dir: str) -> dict:
    """zoom -> _RowGroups over the base tiles and every committed
    generation."""
    from ..plans.pipeline import gen_path, generations

    sources = [(0, os.path.join(planet_dir, "tiles"))] + [
        (g, gen_path(planet_dir, "tiles", g)) for g in generations(planet_dir, "tiles")
    ]
    entries: dict = {}
    for gen, root in sources:
        for z, path in _zoom_files(root):
            meta = pq.read_metadata(path)
            col = meta.schema.names.index("tile_h")
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(col).statistics
                lo, hi = (st.min, st.max) if st is not None and st.has_min_max else (_I64.min, _I64.max)
                entries.setdefault(z, []).append((gen, lo, hi, path, rg, meta))
    zooms = {}
    for z, es in entries.items():
        es.sort(key=lambda e: -e[0])  # newest generation first
        zooms[z] = _RowGroups(
            np.array([e[1] for e in es], np.int64),
            np.array([e[2] for e in es], np.int64),
            [e[3:] for e in es],
        )
    return zooms


_SERVED: "weakref.WeakKeyDictionary[DataFrame, _ServingIndex]" = weakref.WeakKeyDictionary()


def tile_lookup(tiles: DataFrame, z: int, x: int, y: int) -> DataFrame:
    """tiles table -> the one payload row for tile (z, x, y).

    A ``tiles`` frame from ``open_planet`` answers from its serving
    index with a driver-local frame (no Spark job to collect); any other
    frame answers with a ``zoom``/``tile_h`` predicate over itself. Odd
    zooms, zooms outside the built pyramid, absent tiles and x/y outside
    ``[0, 2^z)`` return empty (F6, reference src/hilbert/tree.rs:146-152
    returns None).
    """
    index = _SERVED.get(tiles)
    if not _in_range(z, x, y):
        return index.empty if index is not None else tiles.where(F.lit(False))
    t = Tile.from_zxy(z, x, y)
    if index is not None:
        return index.lookup(z, t.h)
    return tiles.where((F.col("zoom") == z) & (F.col("tile_h") == t.h))


def features_in_tile(
    points_sorted: DataFrame, z: int, x: int, y: int, h_col: str = "h"
) -> DataFrame:
    """Ad-hoc composition source: all features whose zoom-32 h falls in the
    tile's range — a pure range predicate on the sort key, answered by
    partition pruning (the Spark analog of the reference's tree find).
    x/y outside ``[0, 2^z)`` return empty."""
    if not _in_range(z, x, y):
        return points_sorted.where(F.lit(False))
    t = Tile.from_zxy(z, x, y)
    lo, hi = zoom_h_range(t.h, z)
    if hi == (1 << 63) - 1:  # last tile on the curve: closed range
        return points_sorted.where(F.col(h_col) >= lo)
    return points_sorted.where((F.col(h_col) >= lo) & (F.col(h_col) < hi))


def open_planet(spark: SparkSession, planet_dir: str) -> dict[str, DataFrame]:
    """Open a built planet's stage tables (the loadPlanet analog): every
    one of ``points_sorted``, ``tile_tree``, ``content`` and ``tiles``
    whose directory exists; a table that exists but cannot be read
    raises.

    Each is its ``read_table`` view (plans/pipeline): ``tiles`` and
    ``tile_tree`` resolve their committed compaction generations
    latest-generation-wins, so a compacted planet never serves stale
    rows. ``tiles`` also carries the serving index ``tile_lookup``
    answers from, built here from the footers of exactly the files that
    view reads. Both describe the planet as opened: reopen it after a
    fold or a materialize.
    """
    from ..plans.pipeline import read_table

    out = {
        name: read_table(spark, planet_dir, name)
        for name in ("points_sorted", "tile_tree", "content", "tiles")
        if os.path.isdir(os.path.join(planet_dir, name))
    }
    if "tiles" in out:
        _SERVED[out["tiles"]] = _ServingIndex(
            spark, out["tiles"].schema, _index_planet(planet_dir)
        )
    return out
