"""Tile payload assembly — two-phase streaming mapInPandas
(A5/A6/P7 + Douglas-Peucker).

Reference equivalent: ``compose_tile``/``build_pvt`` assemble one tile
at a time from index ranges (src/hilbert/compose.rs:110-349) with
per-tile string interning (src/tile_attributes.rs:14-80) and tile-local
projection (src/tile.rs:297-334).

Spark design (north rule: hot tiles split on the Hilbert key):

  phase 1  repartitionByRange(zoom, tile_h, h, feature_id) +
           sortWithinPartitions -> ``mapInPandas`` over pre-projected
           int16 tile-local rows (``project_geometry``): one lexsort
           per Arrow batch emits a columnar CHUNK per (tile, layer,
           batch). A tile is one contiguous run of the key, so
           the range partitioner's sampled bounds fall inside any tile
           that holds many rows: a dense-city tile spreads over several
           tasks, each emitting its own chunks. Chunks are mergeable,
           so batch and partition boundaries splitting a tile are
           harmless.
  phase 2  repartition(zoom, tile_h) + sort -> streaming ``mapInPandas``
           with a carry buffer across Arrow batches (a tile's chunks
           are contiguous in the sorted partition): global (h, id, seq)
           order restore — chunks merge in any order — first-seen
           interning (A6), emit the payload.

Point fast path (``compose_points``): one range shuffle by (zoom,
tile_h, h) + sort clusters the point rows whatever their input layout
(the content stage, a fold's dirty slice), so each tile is one
contiguous run of one partition, or of adjacent partitions when it is
hot; phase 1 emits FINAL payloads for the tiles interior to an Arrow
batch and chunks for a batch's first/last tile, which the phase 2
above merges.

Shuffle widths: every keyed shuffle (both phases above, the point fast
path's range shuffle and its phase 2) has no partition count, so AQE
sizes each from its bytes; coalescing adjacent range partitions
decides whether a hot tile's split survives.

Why mapInPandas and not groupBy().applyInPandas: with millions of
small tiles the per-group UDF dispatch dominates (measured 146s of a
162s build at 14k groups); batch-level pandas groupby removes the
per-group Arrow round-trip while keeping identical semantics.
"""

from __future__ import annotations

import pickle
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import hilbert as hb
from ..functions.pvt_codec import MAGIC, VERSION, encode_tile_arrays
from ..session import persist
from ..tile import tile_project
from .simplify import DEFAULT_TOLERANCE, simplify_many

CHUNK_SCHEMA = (
    "zoom int, tile_h long, layer string, n_features long, chunk binary"
)
TILE_SCHEMA = (
    "zoom int, tile_h long, tile_id long, layer_count int, feature_count long, "
    "payload binary, payload_size int"
)


def tile_keys(zoom, tile_h) -> np.ndarray:
    """(zoom, tile_h) -> int64 tile keys ``zoom << 50 | tile_h``, which
    sort as (zoom, tile_h) (tile_h < 4^zoom <= 2^28)."""
    return (np.asarray(zoom, dtype=np.int64) << 50) | np.asarray(tile_h, dtype=np.int64)


def split_tile_keys(keys: np.ndarray):
    """``tile_keys`` -> (zoom, tile_h) int64 arrays."""
    return keys >> 50, keys & ((1 << 50) - 1)


def _feature_tile_id(zoom: np.ndarray, h_signed: np.ndarray) -> np.ndarray:
    """PVT feature id = the feature's own h, 52-bit packed with zoom
    (reference src/tile.rs:141-152 incl. the mod-wrap overflow branch)."""
    h = hb.signed_to_h(np.asarray(h_signed, dtype=np.int64))
    over = h > np.uint64(140_737_488_355_327)
    packed = (np.asarray(zoom, dtype=np.uint64) << np.uint64(47)) | h
    return np.where(over, h % np.uint64(4_503_599_627_370_495), packed).view(np.int64)


def _tile_origin_xy(zoom: np.ndarray, tile_h: np.ndarray):
    """Vectorized tile-h -> (x, y) per row, batching by distinct zoom."""
    tx = np.zeros(len(zoom), dtype=np.uint64)
    ty = np.zeros(len(zoom), dtype=np.uint64)
    for z in np.unique(zoom):
        m = zoom == z
        if z == 0:
            continue
        x, y = hb.h2xy(tile_h[m].astype(np.uint64), int(z))
        tx[m] = x
        ty[m] = y
    return tx, ty


def _project_batch(pdf: pd.DataFrame, tolerance: float):
    """Project + simplify every geometry in the batch — fully batched:
    one flatten, one vectorized projection (P7), one multi-feature DP
    (simplify_many). Returns flat simplified int16 coords + per-row
    lengths; no per-feature Python calls."""
    n = len(pdf)
    zoom = pdf["zoom"].to_numpy(dtype=np.int64)
    tile_h = pdf["tile_h"].to_numpy(dtype=np.int64)
    geom_lens = np.fromiter((len(g) for g in pdf["geom_x"]), dtype=np.int64, count=n)
    flat_x = np.concatenate([np.asarray(g, dtype=np.float64) for g in pdf["geom_x"]]) if n else np.empty(0)
    flat_y = np.concatenate([np.asarray(g, dtype=np.float64) for g in pdf["geom_y"]]) if n else np.empty(0)
    tx, ty = _tile_origin_xy(zoom, tile_h)
    row_of_pt = np.repeat(np.arange(n), geom_lens)
    px, py = tile_project(
        zoom[row_of_pt].astype(np.float64),
        tx[row_of_pt].astype(np.float64),
        ty[row_of_pt].astype(np.float64),
        flat_x,
        flat_y,
    )
    offsets = np.concatenate([[0], np.cumsum(geom_lens)])
    keep = simplify_many(px, py, offsets, tolerance)
    ck = np.zeros(len(keep) + 1, dtype=np.int64)
    np.cumsum(keep, out=ck[1:])
    slens = ck[offsets[1:]] - ck[offsets[:-1]]
    return px[keep], py[keep], slens


def project_geometry(df: DataFrame, tolerance: float = DEFAULT_TOLERANCE) -> DataFrame:
    """Replace world-coord geom_x/geom_y (array<long>) with tile-local,
    DP-simplified int16 coordinates, batched per Arrow batch.

    Run this on content rows BEFORE they are written: the zoom explode
    otherwise ships full-resolution coordinates once per pyramid level
    through the compose shuffle and the tile-assembly phase then discards
    ~90% of the points (a 150-point way keeps ~13 after per-zoom DP).
    Projection + DP depend only on (zoom, tile_h) and the row's own
    coordinates — both fixed per row — so it commutes with the compose
    shuffles; ``geometry_chunks`` consumes its output.
    """
    from pyspark.sql import types as T

    fields = [
        T.StructField(f.name, T.ArrayType(T.ShortType()), True)
        if f.name in ("geom_x", "geom_y")
        else f
        for f in df.schema.fields
    ]

    def _stream(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.reset_index(drop=True)
            spx, spy, slens = _project_batch(pdf, tolerance)
            off = np.zeros(len(pdf) + 1, dtype=np.int64)
            np.cumsum(slens, out=off[1:])
            pdf["geom_x"] = [spx[off[i] : off[i + 1]] for i in range(len(pdf))]
            pdf["geom_y"] = [spy[off[i] : off[i + 1]] for i in range(len(pdf))]
            yield pdf

    return df.mapInPandas(_stream, T.StructType(fields))


def _phase1_stream(batches):
    """Projected feature rows -> mergeable per-(tile, layer) chunks.

    Vectorized across the whole Arrow batch (same discipline as the
    phase-2 _merge_tiles_batch): ONE lexsort clusters rows by group with
    (h, feature_id) as minor keys — replacing a pandas groupby + a
    per-group sort_values whose constant dominated at ~1 feature/group
    (external leaf rows land each way in its own leaf tile) — then every
    per-feature column is gathered once and each group's chunk is sliced
    out of flat arrays. Geometry arrives as int16 tile-local coords
    (``project_geometry``), so P7 + DP are already done.
    """
    for pdf in batches:
        if pdf.empty:
            continue
        pdf = pdf.reset_index(drop=True)
        n = len(pdf)
        slens = np.fromiter((len(g) for g in pdf["geom_x"]), np.int64, count=n)
        spx = np.concatenate([np.asarray(g, np.int16) for g in pdf["geom_x"]])
        spy = np.concatenate([np.asarray(g, np.int16) for g in pdf["geom_y"]])
        zoom = pdf["zoom"].to_numpy(dtype=np.int64)
        tile_h = pdf["tile_h"].to_numpy(dtype=np.int64)
        h = pdf["h"].to_numpy(dtype=np.int64)
        fid = pdf["feature_id"].to_numpy(dtype=np.int64)
        # geom_seq: tie-break for multi-row features (relation rings share
        # feature_id AND h); absent on single-geometry producers
        seq = (
            pdf["geom_seq"].to_numpy(dtype=np.int64)
            if "geom_seq" in pdf.columns
            else np.zeros(n, dtype=np.int64)
        )
        lcodes, luniq = pd.factorize(pdf["layer"], sort=False)
        # per-row interleaved tag strings (kv) — the one per-row Python
        # pass (dict iteration has no vectorized form)
        kv_all: list[str] = []
        n_tags = np.empty(n, dtype=np.int64)
        kv_off = np.empty(n + 1, dtype=np.int64)
        kv_off[0] = 0
        for j, tags in enumerate(pdf["out_tags"]):
            items = sorted(tags.items()) if tags else []
            n_tags[j] = len(items)
            for k, v in items:
                kv_all.append(k)
                kv_all.append(v)
            kv_off[j + 1] = len(kv_all)
        order = np.lexsort((seq, fid, h, lcodes, tile_h, zoom))
        zs, ts, ls = zoom[order], tile_h[order], lcodes[order]
        new_grp = np.empty(n, dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (
            (zs[1:] != zs[:-1]) | (ts[1:] != ts[:-1]) | (ls[1:] != ls[:-1])
        )
        bounds = np.append(np.flatnonzero(new_grp), n)
        ids_s, h_s, seq_s = fid[order], h[order], seq[order]
        nt_s, slens_s = n_tags[order], slens[order]
        # gather each row's simplified points in sorted-row order, then
        # interleave x,y once for the whole batch
        soff = np.concatenate([[0], np.cumsum(slens)])
        gidx = _gather_varlen(order, slens, soff)
        pts_all = np.empty(2 * len(gidx), dtype=np.int16)
        pts_all[0::2] = spx[gidx]
        pts_all[1::2] = spy[gidx]
        pt_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(slens_s, out=pt_off[1:])
        rows = []
        for gi in range(len(bounds) - 1):
            s, e = int(bounds[gi]), int(bounds[gi + 1])
            kv: list[str] = []
            for r in order[s:e]:
                kv.extend(kv_all[kv_off[r] : kv_off[r + 1]])
            chunk = pickle.dumps(
                {
                    "ids": ids_s[s:e],
                    "h": h_s[s:e],
                    "seq": seq_s[s:e],
                    "n_tags": nt_s[s:e],
                    "kv": kv,
                    "geom_lens": slens_s[s:e],
                    "pts": pts_all[2 * pt_off[s] : 2 * pt_off[e]],
                },
                protocol=4,
            )
            rows.append((int(zs[s]), int(ts[s]), luniq[ls[s]], e - s, chunk))
        yield pd.DataFrame(rows, columns=["zoom", "tile_h", "layer", "n_features", "chunk"])


def _gather_varlen(order: np.ndarray, lens: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Indices that reorder a flattened var-length block by `order`."""
    new_lens = lens[order]
    total = int(new_lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    cum = np.cumsum(new_lens)
    starts = offsets[order]
    return np.arange(total) - np.repeat(cum - new_lens, new_lens) + np.repeat(starts, new_lens)


def _merge_tile_rows(zoom: int, tile_h: int, grp: pd.DataFrame, layer_order: list[str]):
    layer_rank = {name: i for i, name in enumerate(layer_order)}
    layers_out = []
    total_features = 0
    for layer, lg in sorted(
        grp.groupby("layer", sort=False),
        key=lambda kv: (layer_rank.get(kv[0], len(layer_rank)), kv[0]),
    ):
        chunks = [pickle.loads(c) for c in lg["chunk"]]
        ids = np.concatenate([c["ids"] for c in chunks])
        hs = np.concatenate([c["h"] for c in chunks])
        seqs = np.concatenate(
            [c.get("seq", np.zeros(len(c["ids"]), dtype=np.int64)) for c in chunks]
        )
        n_tags = np.concatenate([c["n_tags"] for c in chunks])
        geom_lens = np.concatenate([c["geom_lens"] for c in chunks])
        kv_flat = np.concatenate(
            [np.asarray(c["kv"], dtype=object) for c in chunks]
        ) if chunks else np.empty(0, dtype=object)
        pts_flat = np.concatenate([c["pts"] for c in chunks])
        # restore global (h, id, seq) feature order — seq breaks the tie
        # between a relation's multiple ring rows
        order = np.lexsort((seqs, ids, hs))
        tag_off = np.concatenate([[0], np.cumsum(n_tags)])[:-1]
        geo_off = np.concatenate([[0], np.cumsum(geom_lens)])[:-1]
        # interleaved blocks: kv has 2 entries/tag, pts 2 entries/point
        kv_idx = _gather_varlen(order, n_tags * 2, tag_off * 2)
        pts_idx = _gather_varlen(order, geom_lens * 2, geo_off * 2)
        fids = _feature_tile_id(np.full(len(hs), zoom), hs)
        total_features += len(ids)
        layers_out.append(
            {
                "name": layer,
                "ids": fids[order],
                "n_tags": n_tags[order],
                "kv": kv_flat[kv_idx] if len(kv_idx) else [],
                "geom_lens": geom_lens[order],
                "pts": pts_flat[pts_idx] if len(pts_idx) else np.empty(0, np.int16),
            }
        )
    payload = encode_tile_arrays(zoom, tile_h, layers_out)
    tile_id = (
        (zoom << 47) | tile_h
        if tile_h <= 140_737_488_355_327
        else tile_h % 4_503_599_627_370_495
    )
    return (zoom, tile_h, tile_id, len(layers_out), total_features, payload, len(payload))


_TILE_COLS = [
    "zoom",
    "tile_h",
    "tile_id",
    "layer_count",
    "feature_count",
    "payload",
    "payload_size",
]


def _merge_tiles_batch(done: pd.DataFrame, layer_order: list[str]) -> list[tuple]:
    """Merge MANY tiles' chunks in one vectorized pass (same output as
    per-tile ``_merge_tile_rows``, which is retained as the semantic
    reference and equivalence-test oracle).

    ``done`` holds complete tiles' chunk rows sorted by (zoom, tile_h,
    layer), a (tile, layer)'s chunks in any order. All chunks decode up
    front; per-feature arrays concatenate once; ONE global lexsort
    restores (tile, layer-order, h, id, seq); var-length kv/pts blocks gather once; payload assembly runs
    through the generalized batched encoder."""
    layer_rank = {name: i for i, name in enumerate(layer_order)}
    chunks = [pickle.loads(c) for c in done["chunk"]]
    cz = done["zoom"].to_numpy(dtype=np.int64)
    cth = done["tile_h"].to_numpy(dtype=np.int64)
    cl = done["layer"].to_numpy()
    nfeat = np.fromiter((len(c["ids"]) for c in chunks), np.int64, count=len(chunks))
    tile_change = np.ones(len(cz), dtype=bool)
    tile_change[1:] = (cz[1:] != cz[:-1]) | (cth[1:] != cth[:-1])
    tile_of_chunk = np.cumsum(tile_change) - 1
    # layer order key: manifest rank, then name (lexicographic) for
    # layers beyond the manifest — mirrors _merge_tile_rows' sorted()
    uniq_names = np.unique(cl)
    name_key = np.searchsorted(uniq_names, cl)
    rank_key = np.fromiter(
        (layer_rank.get(l, len(layer_rank)) for l in cl), np.int64, count=len(cl)
    )
    lkey_chunk = rank_key * (len(uniq_names) + 1) + name_key

    ids = np.concatenate([c["ids"] for c in chunks])
    hs = np.concatenate([c["h"] for c in chunks])
    seqs = np.concatenate(
        [c.get("seq", np.zeros(len(c["ids"]), dtype=np.int64)) for c in chunks]
    )
    n_tags = np.concatenate([c["n_tags"] for c in chunks]).astype(np.int64)
    geom_lens = np.concatenate([c["geom_lens"] for c in chunks]).astype(np.int64)
    kv_flat = (
        np.concatenate([np.asarray(c["kv"], dtype=object) for c in chunks])
        if chunks
        else np.empty(0, dtype=object)
    )
    pts = np.concatenate([c["pts"] for c in chunks])

    f_tile = np.repeat(tile_of_chunk, nfeat)
    f_lkey = np.repeat(lkey_chunk, nfeat)
    f_name = np.repeat(cl, nfeat)
    order = np.lexsort((seqs, ids, hs, f_lkey, f_tile))

    kv_off_in = np.concatenate([[0], np.cumsum(n_tags * 2)])[:-1]
    pt_off_in = np.concatenate([[0], np.cumsum(geom_lens * 2)])[:-1]
    kv_idx = _gather_varlen(order, n_tags * 2, kv_off_in)
    pts_idx = _gather_varlen(order, geom_lens * 2, pt_off_in)

    f_tile_o = f_tile[order]
    hs_o = hs[order]
    n_tags_o = n_tags[order]
    geom_lens_o = geom_lens[order]
    zoom_of_tile = cz[tile_change]
    th_of_tile = cth[tile_change]
    zoom_o = zoom_of_tile[f_tile_o]
    th_o = th_of_tile[f_tile_o]
    fids_o = _feature_tile_id(zoom_o, hs_o)
    kv_flat_o = kv_flat[kv_idx] if len(kv_idx) else np.empty(0, dtype=object)
    pts_o = pts[pts_idx] if len(pts_idx) else np.empty(0, np.int16)
    kv_off_o = np.concatenate([[0], np.cumsum(n_tags_o * 2)])

    tb = np.concatenate(
        [[0], 1 + np.flatnonzero(f_tile_o[1:] != f_tile_o[:-1]), [len(order)]]
    )
    slices = list(zip(tb[:-1], tb[1:]))
    rows = _encode_final_tiles(
        slices, zoom_o, th_o, f_lkey[order], f_name[order], fids_o, n_tags_o,
        kv_flat_o, kv_off_o, pts_o, geom_lens=geom_lens_o,
    )
    # UNIFIED row -> TILE row (drop the final flag + chunk columns)
    return [(r[0], r[1], r[3], r[4], r[5], r[6], r[7]) for r in rows]


def _phase2_stream(batches, layer_order: list[str]):
    """Streaming merge: a tile's chunks are contiguous in the sorted
    partition; hold back the last (possibly incomplete) tile of each
    Arrow batch until the next one arrives."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if pdf.empty:
            continue
        last_zoom = pdf["zoom"].iloc[-1]
        last_h = pdf["tile_h"].iloc[-1]
        is_last = (pdf["zoom"] == last_zoom) & (pdf["tile_h"] == last_h)
        carry = pdf[is_last]
        done = pdf[~is_last]
        if done.empty:
            continue
        yield pd.DataFrame(
            _merge_tiles_batch(done.reset_index(drop=True), layer_order),
            columns=_TILE_COLS,
        )
    if carry is not None and not carry.empty:
        yield pd.DataFrame(
            _merge_tiles_batch(carry.reset_index(drop=True), layer_order),
            columns=_TILE_COLS,
        )


def geometry_chunks(render_features: DataFrame) -> DataFrame:
    """Phase 1 of the generic compose: mergeable chunks (CHUNK_SCHEMA)
    for arbitrary line/ring geometry.

    render_features(zoom, tile_h, feature_id, h, layer, out_tags,
    geom_x array<short>, geom_y array<short>) as ``project_geometry``
    emits them; ``layer`` already exploded. The range key runs down to
    (h, feature_id), so a hot tile splits across tasks wherever its
    rows' bytes say and each piece chunks on its own. Chunks from this
    path and the point fast path's boundary chunks share one format, so
    a mixed node/way/relation build merges them in ONE phase 2
    (``compose_points(extra_chunks=...)``).
    """
    sort_cols = ["zoom", "tile_h", "layer", "h", "feature_id"]
    if "geom_seq" in render_features.columns:
        sort_cols.append("geom_seq")
    part1 = render_features.repartitionByRange(
        "zoom", "tile_h", "h", "feature_id"
    ).sortWithinPartitions(*sort_cols)
    return part1.mapInPandas(_phase1_stream, CHUNK_SCHEMA)


def merge_chunks(chunks: DataFrame, layer_order: list[str]) -> DataFrame:
    """Phase 2: shuffle chunk rows by (zoom, tile_h) and merge into final
    tile payloads. Input chunks may come from any phase-1 producer."""
    part2 = chunks.repartition("zoom", "tile_h").sortWithinPartitions(
        "zoom", "tile_h", "layer"
    )
    return part2.mapInPandas(lambda it: _phase2_stream(it, layer_order), TILE_SCHEMA)


def compose_tiles(
    render_features: DataFrame,
    layer_order: list[str],
    tolerance: float = DEFAULT_TOLERANCE,
) -> DataFrame:
    """render_features(zoom, tile_h, feature_id, h, layer, out_tags,
    geom_x array<long>, geom_y array<long>) -> tiles table.

    ``layer`` must already be exploded (one row per feature x layer).
    """
    return merge_chunks(
        geometry_chunks(project_geometry(render_features, tolerance)), layer_order
    )


# ---------------------------------------------------------------------------
# Point-feature fast path: every column primitive (no per-row lists/dicts
# cross the Arrow boundary), finals emitted in phase 1
# ---------------------------------------------------------------------------

UNIFIED_SCHEMA = (
    "zoom int, tile_h long, final boolean, tile_id long, layer_count int, "
    "feature_count long, payload binary, payload_size int, "
    "layer string, n_features long, chunk binary"
)


def _encode_tile_slices(zoom, tile_h, s, e, layer_rank, layers, hs, fids, n_tags,
                        kv_flat, kv_off, pts):
    """Encode one tile from batch-global arrays (rows [s:e), pre-sorted by
    (layer_rank, h, id))."""
    out_layers = []
    bounds = [s] + list(s + 1 + np.flatnonzero(layer_rank[s + 1 : e] != layer_rank[s : e - 1])) + [e]
    for a, b in zip(bounds[:-1], bounds[1:]):
        out_layers.append(
            {
                "name": layers[a],
                "ids": fids[a:b],
                "n_tags": n_tags[a:b],
                "kv": kv_flat[kv_off[a] : kv_off[b]],
                "geom_lens": np.ones(b - a, dtype=np.int64),
                "pts": pts[2 * a : 2 * b],
            }
        )
    payload = encode_tile_arrays(zoom, tile_h, out_layers)
    tile_id = (
        (zoom << 47) | tile_h
        if tile_h <= 140_737_488_355_327
        else tile_h % 4_503_599_627_370_495
    )
    return (zoom, tile_h, True, tile_id, len(out_layers), e - s, payload, len(payload), None, None, None)


def _encode_final_tiles(tiles, zoom, tile_h, layer_rank, layers, fids, n_tags,
                        kv_flat, kv_off, pts, geom_lens=None):
    """Encode MANY final tiles in one vectorized pass (byte-identical to
    per-tile ``encode_tile_arrays``, same v2 layout).

    The per-tile encode constant (~35 us: dict interning, ascontiguousarray,
    struct packs — measured 60% of the fast-path CPU at 2 features/tile)
    is amortized batch-wide: string interning becomes ONE factorize + two
    lexsorts over every (tile, string) occurrence in the run, and all
    fixed-width array sections become byte-slices of run-level buffers.
    The remaining per-tile loop only joins precomputed byte slices.

    tiles: list of (s, e) global row slices, each a complete final tile;
    other args are the run-level arrays of ``process_run``.
    ``geom_lens=None`` means single-point features (the fast path);
    otherwise it carries per-feature point counts and ``pts`` is the
    correspondingly var-length interleaved coordinate buffer (the
    batched phase-2 merge path).
    """
    if not tiles:
        return []
    S = np.array([t[0] for t in tiles], dtype=np.int64)
    E = np.array([t[1] for t in tiles], dtype=np.int64)
    lens = E - S
    total = int(lens.sum())
    # global row index of every final row, tiles concatenated in order
    cum = np.cumsum(lens)
    row_idx = np.arange(total) - np.repeat(cum - lens, lens) + np.repeat(S, lens)
    tile_of_row = np.repeat(np.arange(len(S)), lens)

    # --- layer segments (runs of equal layer_rank within a tile)
    lr = layer_rank[row_idx]
    first_of_tile = np.zeros(total, dtype=bool)
    first_of_tile[np.concatenate([[0], cum[:-1]])] = True
    seg_flag = first_of_tile.copy()
    seg_flag[1:] |= lr[1:] != lr[:-1]
    seg_starts = np.flatnonzero(seg_flag)          # in final-row space
    seg_ends = np.concatenate([seg_starts[1:], [total]])
    seg_tile = tile_of_row[seg_starts]
    n_layers_per_tile = np.bincount(seg_tile, minlength=len(S))

    # --- intern-entry stream: per tile, [name, kv...] per segment in order
    kvlens = 2 * n_tags[row_idx]
    kv_total = int(kvlens.sum())
    fr_kv_off = np.concatenate([[0], np.cumsum(kvlens)])
    kv_cum = fr_kv_off[1:]
    # global kv_flat position of every kv occurrence of the final rows
    kv_pos = (
        np.arange(kv_total)
        - np.repeat(kv_cum - kvlens, kvlens)
        + np.repeat(kv_off[row_idx], kvlens)
    )
    # one vocabulary over layer names + kv strings (C-speed factorize)
    name_strs = layers[row_idx[seg_starts]]
    comb = np.concatenate([name_strs, kv_flat[kv_pos]]) if kv_total or len(
        seg_starts
    ) else np.empty(0, dtype=object)
    codes_all, vocab = pd.factorize(comb)
    n_seg = len(seg_starts)
    name_code = codes_all[:n_seg]
    kv_code = codes_all[n_seg:]
    # ordering key replicating upsert order: a segment's name precedes its
    # kv entries and follows the previous segment's (2*kv_off vs 2*pos+1;
    # name/name ties — consecutive empty segments — break by segment index)
    name_key = 2 * kv_off[row_idx[seg_starts]]
    kv_key = 2 * kv_pos + 1
    ent_tile = np.concatenate([seg_tile, np.repeat(tile_of_row, kvlens)])
    ent_key = np.concatenate([name_key, kv_key])
    ent_tiebreak = np.concatenate([np.arange(n_seg), np.zeros(kv_total, np.int64)])
    ent_code = np.concatenate([name_code, kv_code])

    V = max(len(vocab), 1)
    ukey = ent_tile * V + ent_code
    order1 = np.lexsort((ent_tiebreak, ent_key, ukey))
    uk_sorted = ukey[order1]
    first = np.ones(len(uk_sorted), dtype=bool)
    first[1:] = uk_sorted[1:] != uk_sorted[:-1]
    idx1 = order1[first]                      # first occurrence per (tile, code)
    u_ukey = uk_sorted[first]                 # sorted
    u_tile = ent_tile[idx1]
    u_code = ent_code[idx1]
    u_key = ent_key[idx1]
    u_tb = ent_tiebreak[idx1]
    order2 = np.lexsort((u_tb, u_key, u_tile))  # intern order within tile
    nd = len(order2)
    t2 = u_tile[order2]
    grp_first = np.zeros(nd, dtype=np.int64)
    starts2 = np.flatnonzero(np.concatenate([[True], t2[1:] != t2[:-1]]))
    grp_first[starts2] = starts2
    np.maximum.accumulate(grp_first, out=grp_first)
    rank = np.arange(nd) - grp_first
    rank_of_distinct = np.empty(nd, dtype=np.int64)
    rank_of_distinct[order2] = rank
    ent_intern = rank_of_distinct[np.searchsorted(u_ukey, ukey)]
    name_idx = ent_intern[:n_seg]
    kv_intern = ent_intern[n_seg:]

    # --- per-tile string tables: codes in intern order + precoded blobs
    blob = []
    for s in vocab:
        b = str(s).encode("utf-8")
        blob.append(struct.pack("<I", len(b)) + b)
    codes_by_tile = u_code[order2]
    str_bounds = np.concatenate([starts2, [nd]])
    n_strings = np.diff(str_bounds)

    # --- run-level fixed-width buffers; per tile/segment = byte slices
    ids_b = np.ascontiguousarray(fids, dtype=np.int64).tobytes()
    ntags_b = np.ascontiguousarray(n_tags, dtype=np.uint16).tobytes()
    if geom_lens is None:
        glens_b = np.ones(len(n_tags), dtype=np.uint32).tobytes()
        pt_off = None  # 1 point/feature: pts slice == row slice
    else:
        glens_b = np.ascontiguousarray(geom_lens, dtype=np.uint32).tobytes()
        pt_off = np.concatenate([[0], np.cumsum(geom_lens, dtype=np.int64)])
    pts_b = np.ascontiguousarray(pts, dtype=np.int16).tobytes()
    kvi_b = kv_intern.astype(np.uint32).tobytes()

    seg_of_tile = np.concatenate([[0], np.cumsum(n_layers_per_tile)])
    rows = []
    for ti in range(len(S)):
        s_, e_ = int(S[ti]), int(E[ti])
        z, th = int(zoom[s_]), int(tile_h[s_])
        sb0, sb1 = str_bounds[ti], str_bounds[ti + 1]
        parts = [
            MAGIC,
            struct.pack("<HBxQ", VERSION, z, th),
            struct.pack("<I", int(n_strings[ti])),
        ]
        parts.extend(blob[c] for c in codes_by_tile[sb0:sb1])
        parts.append(struct.pack("<H", int(n_layers_per_tile[ti])))
        for si in range(seg_of_tile[ti], seg_of_tile[ti + 1]):
            a, b = int(seg_starts[si]), int(seg_ends[si])      # final-row space
            ga, gb = int(row_idx[a]), int(row_idx[b - 1]) + 1  # global rows
            parts.append(struct.pack("<II", int(name_idx[si]), b - a))
            parts.append(ids_b[8 * ga : 8 * gb])
            parts.append(ntags_b[2 * ga : 2 * gb])
            parts.append(kvi_b[4 * fr_kv_off[a] : 4 * fr_kv_off[b]])
            parts.append(glens_b[4 * ga : 4 * gb])
            if pt_off is None:
                parts.append(pts_b[4 * ga : 4 * gb])
            else:
                parts.append(pts_b[4 * pt_off[ga] : 4 * pt_off[gb]])
        payload = b"".join(parts)
        tile_id = (
            (z << 47) | th if th <= 140_737_488_355_327 else th % 4_503_599_627_370_495
        )
        rows.append(
            (z, th, True, tile_id, int(n_layers_per_tile[ti]), e_ - s_, payload,
             len(payload), None, None, None)
        )
    return rows


def _chunk_rows_for_tile(zoom, tile_h, s, e, layer_rank, layers, hs, raw_ids, n_tags,
                         kv_flat, kv_off, pts):
    """Boundary tile -> mergeable chunk rows (same format as _chunk_of)."""
    rows = []
    bounds = [s] + list(s + 1 + np.flatnonzero(layer_rank[s + 1 : e] != layer_rank[s : e - 1])) + [e]
    for a, b in zip(bounds[:-1], bounds[1:]):
        chunk = pickle.dumps(
            {
                "ids": raw_ids[a:b],
                "h": hs[a:b],
                "n_tags": n_tags[a:b],
                "kv": list(kv_flat[kv_off[a] : kv_off[b]]),
                "geom_lens": np.ones(b - a, dtype=np.int64),
                "pts": pts[2 * a : 2 * b].copy(),
            },
            protocol=4,
        )
        rows.append(
            (zoom, tile_h, False, None, None, None, None, None, layers[a], b - a, chunk)
        )
    return rows


def _phase1_points_stream(batches, exclude_keys=None):
    """Stateless per-batch processing with boundary chunking.

    Safety argument: ``point_phase1`` range-partitions its input by
    (zoom, tile_h, h) and sorts within partitions, so a tile's rows are
    one contiguous run of a partition, or of adjacent partitions (a hot
    tile: the last tile of one, the first of the next); the partition's
    Arrow batches arrive in order, so only a batch's FIRST and LAST
    tiles may continue in a neighbouring batch or partition. Those are
    emitted as mergeable chunks; strictly interior tiles are provably
    complete -> final payloads. No cross-batch carry state needed — chunks merge in
    phase 2. Tiles whose key (``tile_keys``) is in the sorted int64
    array ``exclude_keys`` are emitted as chunks too.
    """
    cols = [
        "zoom", "tile_h", "final", "tile_id", "layer_count", "feature_count",
        "payload", "payload_size", "layer", "n_features", "chunk",
    ]
    # exclude_keys may arrive as a Broadcast (fetched once per executor,
    # not shipped in every task closure) — deref lazily, i.e. on the
    # executor, when the generator first runs
    if exclude_keys is not None and hasattr(exclude_keys, "value"):
        exclude_keys = exclude_keys.value

    def process_run(run: pd.DataFrame):
        run = run.sort_values(
            ["zoom", "tile_h", "layer_rank", "h", "feature_id"], kind="mergesort"
        ).reset_index(drop=True)
        n = len(run)
        zoom = run["zoom"].to_numpy(dtype=np.int64)
        tile_h = run["tile_h"].to_numpy(dtype=np.int64)
        layer_rank = run["layer_rank"].to_numpy(dtype=np.int64)
        layers = run["layer"].to_numpy()
        hs = run["h"].to_numpy(dtype=np.int64)
        raw_ids = run["feature_id"].to_numpy(dtype=np.int64)
        n_tags = run["n_tags"].to_numpy(dtype=np.int64)
        gx = run["gx"].to_numpy(dtype=np.float64)
        gy = run["gy"].to_numpy(dtype=np.float64)
        kv_cells = run["kv"].to_numpy()
        kv_flat = np.concatenate(kv_cells) if n else np.empty(0, dtype=object)
        kv_off = np.concatenate([[0], np.cumsum(n_tags * 2)])
        tx, ty = _tile_origin_xy(zoom, tile_h)
        px, py = tile_project(
            zoom.astype(np.float64), tx.astype(np.float64), ty.astype(np.float64), gx, gy
        )
        pts = np.empty(2 * n, dtype=np.int16)
        pts[0::2] = px
        pts[1::2] = py
        fids = _feature_tile_id(zoom, hs)
        tb = np.concatenate([
            [0],
            1 + np.flatnonzero((tile_h[1:] != tile_h[:-1]) | (zoom[1:] != zoom[:-1])),
            [n],
        ])
        boundary = np.zeros(len(tb) - 1, dtype=bool)
        boundary[[0, -1]] = True
        if exclude_keys is not None and len(exclude_keys):
            keys = tile_keys(zoom[tb[:-1]], tile_h[tb[:-1]])
            at = np.searchsorted(exclude_keys, keys).clip(max=len(exclude_keys) - 1)
            boundary |= exclude_keys[at] == keys
        rows = []
        final_slices = []
        for i, (s_, e_) in enumerate(zip(tb[:-1].tolist(), tb[1:].tolist())):
            if boundary[i]:
                rows.extend(
                    _chunk_rows_for_tile(
                        int(zoom[s_]), int(tile_h[s_]), s_, e_, layer_rank, layers,
                        hs, raw_ids, n_tags, kv_flat, kv_off, pts,
                    )
                )
            else:
                final_slices.append((s_, e_))
        # all final tiles of the run encode in ONE vectorized pass
        rows.extend(
            _encode_final_tiles(
                final_slices, zoom, tile_h, layer_rank, layers, fids, n_tags,
                kv_flat, kv_off, pts,
            )
        )
        return rows

    for pdf in batches:
        if pdf.empty:
            continue
        yield pd.DataFrame(process_run(pdf), columns=cols)


def point_phase1(render_features: DataFrame, exclude_keys=None) -> DataFrame:
    """Phase 1 of the point fast path (UNIFIED_SCHEMA rows: finals and
    boundary chunks) over point render-features in any layout.

    The input is range-partitioned by (zoom, tile_h, h) and sorted
    within partitions here — the one place that clusters point content
    for tile assembly, so the build's content stage and a fold's dirty
    slice both pass their rows as they are. A hot tile is one long run
    of the key, so the range bounds split it across tasks; its pieces
    are batch-boundary tiles and come out as chunks.
    """
    spark = render_features.sparkSession
    # demotion key set rides a broadcast variable, not the task closure
    bc_exclude = (
        spark.sparkContext.broadcast(exclude_keys) if exclude_keys is not None else None
    )
    clustered = render_features.repartitionByRange(
        "zoom", "tile_h", "h"
    ).sortWithinPartitions("zoom", "tile_h")
    return clustered.mapInPandas(
        lambda it: _phase1_points_stream(it, bc_exclude), UNIFIED_SCHEMA
    )


def compose_points(
    render_features: DataFrame,
    layer_order: list[str],
    exclude_keys=None,
    extra_chunks: DataFrame | None = None,
) -> DataFrame:
    """Single-point-feature compose over point render-features in any
    layout.

    Input columns (all primitive — nothing per-row crosses Arrow as
    Python objects except the flat kv string array):
      zoom int, tile_h long, feature_id long, h long, layer string,
      layer_rank int, kv array<string> (sorted k,v pairs interleaved),
      n_tags int, gx long, gy long

    Phase 1 (``point_phase1``) clusters the rows and emits FINAL
    payloads for tiles interior to an Arrow batch (almost all of them)
    and mergeable chunks only for the first/last tile of each batch —
    a hot tile split across tasks among them; phase 2 merges those few
    boundary tiles.

    Mixed builds: ``exclude_keys`` (sorted int64 ``tile_keys``) demotes
    the listed tiles from finals to chunks so their point rows can merge
    with ``extra_chunks`` (way/relation geometry chunks) in phase 2 —
    every other tile keeps the finals fast path.
    """
    # finals and partials both read phase 1: cached, released with the
    # enclosing held_caches block (the tiles write)
    ph1 = persist(point_phase1(render_features, exclude_keys))
    finals = ph1.where(F.col("final")).select(*_TILE_COLS)
    partials = ph1.where(~F.col("final")).select(
        "zoom", "tile_h", "layer", "n_features", "chunk"
    )
    if extra_chunks is not None:
        partials = partials.unionByName(extra_chunks)
    return finals.unionByName(merge_chunks(partials, layer_order))
