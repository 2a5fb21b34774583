"""Tile payload assembly — two-phase streaming mapInPandas
(A5/A6/P7 + Douglas-Peucker).

Reference equivalent: ``compose_tile``/``build_pvt`` assemble one tile
at a time from index ranges (src/hilbert/compose.rs:110-349) with
per-tile string interning (src/tile_attributes.rs:14-80) and tile-local
projection (src/tile.rs:297-334).

Spark design (north rule: hot tiles split on the Hilbert key). Points,
ways and relation rings take the same two phases:

  phase 1  repartitionByRange(zoom, tile_h, h) + sortWithinPartitions ->
           ``mapInPandas``: one lexsort per Arrow batch on (zoom, tile_h,
           layer, h, feature_id, seq). A row with null ``geom_x`` is a
           point, projected here from its grid coords; any other row
           carries int16 tile-local geometry (``project_geometry``). The
           clustering puts a tile's rows in one contiguous run, so only a
           batch's first and last tile may continue in a neighbouring
           batch or partition: those become mergeable chunks, every
           interior tile a FINAL payload. A tile is one run of the key,
           so the range bounds fall inside any tile that holds many rows:
           a hot tile spreads over several tasks, its pieces chunks.
  phase 2  repartition(zoom, tile_h) + sort -> streaming ``mapInPandas``
           over the chunks only, with a carry buffer across Arrow batches
           (a tile's chunks are contiguous in the sorted partition):
           global (layer, h, id, seq) order restore — chunks merge in any
           order — first-seen interning (A6), emit the payload.

Shuffle widths: neither keyed shuffle has a partition count, so AQE
sizes each from its bytes; coalescing adjacent range partitions decides
whether a hot tile's split survives.

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
    shuffles; ``phase1`` reads its int16 output as is.
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


def tag_kv(df: DataFrame) -> DataFrame:
    """Replace the ``out_tags`` map with ``kv`` (its key/value pairs in
    key order, interleaved) and ``n_tags``: primitive columns, so no
    per-row dict crosses the Arrow boundary into tile assembly."""
    tags = F.coalesce(F.col("out_tags"), F.create_map().cast("map<string,string>"))
    kv = F.flatten(F.transform(F.array_sort(F.map_entries(tags)), lambda e: F.array(e.key, e.value)))
    return df.withColumns({"kv": kv, "n_tags": F.size(tags)}).drop("out_tags")


def _gather_varlen(order: np.ndarray, lens: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Indices that reorder a flattened var-length block by `order`."""
    new_lens = lens[order]
    total = int(new_lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    cum = np.cumsum(new_lens)
    starts = offsets[order]
    return np.arange(total) - np.repeat(cum - new_lens, new_lens) + np.repeat(starts, new_lens)


def _layer_keys(names: np.ndarray, layer_order: list[str]) -> np.ndarray:
    """Per-row int64 key of the payload's layer order: manifest rank,
    then name for layers beyond the manifest."""
    codes, uniq = pd.factorize(names)
    rank = {name: i for i, name in enumerate(layer_order)}
    by_order = sorted(range(len(uniq)), key=lambda i: (rank.get(uniq[i], len(rank)), uniq[i]))
    key = np.empty(len(uniq), dtype=np.int64)
    key[by_order] = np.arange(len(uniq))
    return key[codes]


def _merge_tile_rows(zoom: int, tile_h: int, grp: pd.DataFrame, layer_order: list[str]):
    rank = {name: i for i, name in enumerate(layer_order)}
    layers_out = []
    total_features = 0
    for layer, lg in sorted(
        grp.groupby("layer", sort=False),
        key=lambda kv: (rank.get(kv[0], len(rank)), kv[0]),
    ):
        chunks = [pickle.loads(c) for c in lg["chunk"]]
        ids = np.concatenate([c["ids"] for c in chunks])
        hs = np.concatenate([c["h"] for c in chunks])
        seqs = np.concatenate([c["seq"] for c in chunks])
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
    restores (tile, layer-order, h, id, seq); var-length kv/pts blocks
    gather once; payload assembly runs through the batched encoder."""
    chunks = [pickle.loads(c) for c in done["chunk"]]
    cz = done["zoom"].to_numpy(dtype=np.int64)
    cth = done["tile_h"].to_numpy(dtype=np.int64)
    cl = done["layer"].to_numpy()
    nfeat = np.fromiter((len(c["ids"]) for c in chunks), np.int64, count=len(chunks))
    tile_change = np.ones(len(cz), dtype=bool)
    tile_change[1:] = (cz[1:] != cz[:-1]) | (cth[1:] != cth[:-1])
    tile_of_chunk = np.cumsum(tile_change) - 1
    lkey_chunk = _layer_keys(cl, layer_order)

    ids = np.concatenate([c["ids"] for c in chunks])
    hs = np.concatenate([c["h"] for c in chunks])
    seqs = np.concatenate([c["seq"] for c in chunks])
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
        kv_flat_o, kv_off_o, pts_o, geom_lens_o,
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


# ---------------------------------------------------------------------------
# Phase 1: every column primitive (no per-row dicts cross the Arrow
# boundary), finals for the tiles interior to an Arrow batch
# ---------------------------------------------------------------------------

UNIFIED_SCHEMA = (
    "zoom int, tile_h long, final boolean, tile_id long, layer_count int, "
    "feature_count long, payload binary, payload_size int, "
    "layer string, chunk binary"
)
_UNIFIED_COLS = [f.split()[0] for f in UNIFIED_SCHEMA.split(", ")]


def _encode_tile_slices(zoom, tile_h, s, e, layer_key, layers, hs, fids, n_tags,
                        kv_flat, kv_off, pts):
    """Encode one single-point-feature tile from batch-global arrays (rows
    [s:e), pre-sorted by (layer_key, h, id)): the per-tile reference of
    ``_encode_final_tiles``, kept as its test oracle."""
    out_layers = []
    bounds = [s] + list(s + 1 + np.flatnonzero(layer_key[s + 1 : e] != layer_key[s : e - 1])) + [e]
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
    return (zoom, tile_h, True, tile_id, len(out_layers), e - s, payload, len(payload), None, None)


def _encode_final_tiles(tiles, zoom, tile_h, layer_key, layers, fids, n_tags,
                        kv_flat, kv_off, pts, geom_lens):
    """Encode MANY final tiles in one vectorized pass (byte-identical to
    per-tile ``encode_tile_arrays``, same v2 layout).

    The per-tile encode constant (~35 us: dict interning, ascontiguousarray,
    struct packs — measured 60% of the fast-path CPU at 2 features/tile)
    is amortized batch-wide: string interning becomes ONE factorize + two
    lexsorts over every (tile, string) occurrence in the run, and all
    fixed-width array sections become byte-slices of run-level buffers.
    The remaining per-tile loop only joins precomputed byte slices.

    tiles: list of (s, e) global row slices, each a complete final tile;
    the other args are per-row arrays sorted by (tile, layer_key, h, id,
    seq). ``geom_lens`` holds each row's point count and ``pts`` the
    matching var-length interleaved coordinate buffer.
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

    # --- layer segments (runs of equal layer_key within a tile)
    lr = layer_key[row_idx]
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
            parts.append(pts_b[4 * pt_off[ga] : 4 * pt_off[gb]])
        payload = b"".join(parts)
        tile_id = (
            (z << 47) | th if th <= 140_737_488_355_327 else th % 4_503_599_627_370_495
        )
        rows.append(
            (z, th, True, tile_id, int(n_layers_per_tile[ti]), e_ - s_, payload,
             len(payload), None, None)
        )
    return rows




def _chunk_rows_for_tile(zoom, tile_h, s, e, layer_key, layers, hs, ids, seq, n_tags,
                         kv_flat, kv_off, geom_lens, pt_off, pts):
    """Boundary tile (sorted rows [s:e)) -> one mergeable chunk row per
    layer, in the format ``_merge_tiles_batch`` reads."""
    rows = []
    bounds = [s] + list(s + 1 + np.flatnonzero(layer_key[s + 1 : e] != layer_key[s : e - 1])) + [e]
    for a, b in zip(bounds[:-1], bounds[1:]):
        chunk = pickle.dumps(
            {
                "ids": ids[a:b],
                "h": hs[a:b],
                "seq": seq[a:b],
                "n_tags": n_tags[a:b],
                "kv": list(kv_flat[kv_off[a] : kv_off[b]]),
                "geom_lens": geom_lens[a:b],
                "pts": pts[2 * pt_off[a] : 2 * pt_off[b]],
            },
            protocol=4,
        )
        rows.append(
            (zoom, tile_h, False, None, None, None, None, None, layers[a], chunk)
        )
    return rows


def _phase1_batch(pdf: pd.DataFrame, layer_order: list[str]) -> list[tuple]:
    """One Arrow batch of render-feature rows -> UNIFIED_SCHEMA rows.

    Safety argument: ``phase1`` range-partitions its input by (zoom,
    tile_h, h) and sorts within partitions by (zoom, tile_h), so a tile's
    rows are one contiguous run of a partition, or of adjacent partitions
    (a hot tile: the last tile of one, the first of the next); the
    partition's Arrow batches arrive in order, so only a batch's FIRST and
    LAST tiles may continue in a neighbouring batch or partition. Those
    come out as chunks; strictly interior tiles are complete -> final
    payloads, encoded in one vectorized pass. No carry state across
    batches: chunks merge in phase 2.
    """
    n = len(pdf)
    cols = pdf.columns
    # a point row has no geometry array: project its grid coords here
    point = pdf["geom_x"].isna().to_numpy() if "geom_x" in cols else np.ones(n, bool)
    # geom_seq breaks the tie between a relation's ring rows, which share
    # feature_id AND h
    seq = (
        pdf["geom_seq"].fillna(0).to_numpy(dtype=np.int64)
        if "geom_seq" in cols
        else np.zeros(n, dtype=np.int64)
    )
    zoom = pdf["zoom"].to_numpy(dtype=np.int64)
    tile_h = pdf["tile_h"].to_numpy(dtype=np.int64)
    hs = pdf["h"].to_numpy(dtype=np.int64)
    ids = pdf["feature_id"].to_numpy(dtype=np.int64)
    layers = pdf["layer"].to_numpy()
    layer_key = _layer_keys(layers, layer_order)
    order = np.lexsort((seq, ids, hs, layer_key, tile_h, zoom))
    zoom, tile_h, hs, ids, seq, layer_key, layers, point = (
        a[order] for a in (zoom, tile_h, hs, ids, seq, layer_key, layers, point)
    )
    n_tags = pdf["n_tags"].to_numpy(dtype=np.int64)[order]
    kv_flat = np.concatenate(pdf["kv"].to_numpy()[order])
    kv_off = np.concatenate([[0], np.cumsum(n_tags * 2)])

    geom_lens = np.ones(n, dtype=np.int64)
    geo = ~point  # rows carrying an int16 geometry array
    if geo.any():
        gx_cells = pdf["geom_x"].to_numpy()[order][geo]
        gy_cells = pdf["geom_y"].to_numpy()[order][geo]
        geom_lens[geo] = np.fromiter(map(len, gx_cells), np.int64, count=len(gx_cells))
    pt_off = np.concatenate([[0], np.cumsum(geom_lens)])
    xs = np.empty(pt_off[-1], dtype=np.int16)
    ys = np.empty(pt_off[-1], dtype=np.int16)
    at = pt_off[:-1][point]
    if point.any():
        tx, ty = _tile_origin_xy(zoom[point], tile_h[point])
        xs[at], ys[at] = tile_project(
            zoom[point], tx, ty,
            pdf["gx"].to_numpy(dtype=np.float64)[order][point],
            pdf["gy"].to_numpy(dtype=np.float64)[order][point],
        )
    if geo.any():
        rest = np.ones(len(xs), dtype=bool)
        rest[at] = False
        xs[rest] = np.concatenate([np.asarray(g, np.int16) for g in gx_cells])
        ys[rest] = np.concatenate([np.asarray(g, np.int16) for g in gy_cells])
    pts = np.empty(2 * len(xs), dtype=np.int16)
    pts[0::2] = xs
    pts[1::2] = ys

    tb = np.concatenate([
        [0],
        1 + np.flatnonzero((tile_h[1:] != tile_h[:-1]) | (zoom[1:] != zoom[:-1])),
        [n],
    ]).tolist()
    rows = []
    for i in sorted({0, len(tb) - 2}):
        rows.extend(
            _chunk_rows_for_tile(
                int(zoom[tb[i]]), int(tile_h[tb[i]]), tb[i], tb[i + 1], layer_key,
                layers, hs, ids, seq, n_tags, kv_flat, kv_off, geom_lens, pt_off, pts,
            )
        )
    rows.extend(
        _encode_final_tiles(
            list(zip(tb[1:-2], tb[2:-1])), zoom, tile_h, layer_key, layers,
            _feature_tile_id(zoom, hs), n_tags, kv_flat, kv_off, pts, geom_lens,
        )
    )
    return rows


def _phase1_stream(batches, layer_order: list[str]):
    for pdf in batches:
        if not pdf.empty:
            yield pd.DataFrame(_phase1_batch(pdf, layer_order), columns=_UNIFIED_COLS)


def phase1(render_features: DataFrame, layer_order: list[str]) -> DataFrame:
    """Phase 1 (UNIFIED_SCHEMA rows: finals and boundary chunks) over
    render-features in any layout.

    The input is range-partitioned by (zoom, tile_h, h) and sorted
    within partitions here — the one place that clusters content for
    tile assembly, so the build's content stages and a fold's dirty
    slice both pass their rows as they are. A hot tile is one long run
    of the key, so the range bounds split it across tasks; its pieces
    are batch-boundary tiles and come out as chunks.
    """
    clustered = render_features.repartitionByRange(
        "zoom", "tile_h", "h"
    ).sortWithinPartitions("zoom", "tile_h")
    return clustered.mapInPandas(
        lambda it: _phase1_stream(it, layer_order), UNIFIED_SCHEMA
    )


def compose_features(render_features: DataFrame, layer_order: list[str]) -> DataFrame:
    """Render-features in any layout -> tiles table (TILE_SCHEMA).

    Input columns (``layer`` already exploded, one row per feature x
    layer; nothing per-row crosses Arrow as Python objects except the
    flat kv strings and geometry arrays):
      zoom int, tile_h long, feature_id long, h long, layer string,
      kv array<string> and n_tags int (``tag_kv``), and either
      gx long, gy long (a point, in grid coords) or geom_x/geom_y
      array<short> (tile-local, ``project_geometry``) with an optional
      geom_seq int; a row whose ``geom_x`` is null is a point.

    Phase 1 (``phase1``) clusters the rows and emits FINAL payloads for
    tiles interior to an Arrow batch (almost all of them) and mergeable
    chunks only for the first/last tile of each batch — a hot tile
    split across tasks among them; phase 2 merges those few boundary
    tiles. Phase 1 is cached through ``session.persist`` (finals and
    chunks both read it): compose inside ``held_caches`` to release it.
    """
    ph1 = persist(phase1(render_features, layer_order))
    finals = ph1.where(F.col("final")).select(*_TILE_COLS)
    chunks = ph1.where(~F.col("final")).select("zoom", "tile_h", "layer", "chunk")
    merged = chunks.repartition("zoom", "tile_h").sortWithinPartitions(
        "zoom", "tile_h", "layer"
    )
    return finals.unionByName(
        merged.mapInPandas(lambda it: _phase2_stream(it, layer_order), TILE_SCHEMA)
    )


def compose_tiles(
    render_features: DataFrame,
    layer_order: list[str],
    tolerance: float = DEFAULT_TOLERANCE,
) -> DataFrame:
    """render_features(zoom, tile_h, feature_id, h, layer, out_tags,
    geom_x array<long>, geom_y array<long>) -> tiles table: the
    world-coordinate entry of ``compose_features``.

    ``layer`` must already be exploded (one row per feature x layer).
    """
    return compose_features(
        tag_kv(project_geometry(render_features, tolerance)), layer_order
    )
