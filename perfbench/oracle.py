"""Reference answers computed in the benchmark process, and output checks.

The spatial references are numpy brute force over every point, written
from the definitions rather than from the engine's operators:
point-in-polygon by the sign of an exact cross product, radius joins
by exact integer distances to every point. Each check returns a list of
problems; an empty list means the output is correct.
"""

from __future__ import annotations

import hashlib

import numpy as np


def _ring_parity(px: np.ndarray, py: np.ndarray, ring: np.ndarray):
    """Crossing parity of points against one closed ring, and a mask of
    points too close to one of its edges to call (float rounding in any
    implementation could flip them).

    An edge counts when exactly one endpoint lies strictly above the
    point's y and the point lies on the side of the edge the crossing
    ray leaves from, decided by the sign of the cross product. With
    integer dm7 coordinates the cross product is exact in float64."""
    ax, ay = ring[:-1, 0][:, None], ring[:-1, 1][:, None]
    bx, by = ring[1:, 0][:, None], ring[1:, 1][:, None]
    up = (ay <= py) & (by > py)
    down = (by <= py) & (ay > py)
    cross = (bx - ax) * (py - ay) - (px - ax) * (by - ay)
    hits = (up & (cross > 0)) | (down & (cross < 0))
    dy = np.abs(by - ay)
    with np.errstate(divide="ignore", invalid="ignore"):
        gap = np.where(up | down, np.abs(cross) / np.where(dy == 0, 1, dy), np.inf)
    near = (gap < 1e-3).any(axis=0)
    return hits.sum(axis=0) % 2 == 1, near


def pip_pairs(points: dict, polygons: list[tuple]):
    """(feature_id, admin_id) pairs with the point inside the polygon
    (even-odd over all rings), plus the pairs too close to call."""
    px = points["lon_dm7"].astype(np.float64)[None, :]
    py = points["lat_dm7"].astype(np.float64)[None, :]
    ids = points["feature_id"]
    inside, unsure = set(), set()
    for admin_id, _level, _name, rings in polygons:
        acc = np.zeros(px.shape[1], dtype=bool)
        near = np.zeros(px.shape[1], dtype=bool)
        for ring in rings:
            r = np.array(ring, dtype=np.float64)
            lo, hi = r.min(axis=0), r.max(axis=0)
            box = (px[0] >= lo[0]) & (px[0] <= hi[0]) & (py[0] >= lo[1]) & (py[0] <= hi[1])
            if not box.any():
                continue
            sel = np.flatnonzero(box)
            par, nr = _ring_parity(px[:, sel], py[:, sel], r)
            acc[sel] ^= par
            near[sel] |= nr
        inside.update((int(ids[i]), admin_id) for i in np.flatnonzero(acc & ~near))
        unsure.update((int(ids[i]), admin_id) for i in np.flatnonzero(near))
    return inside, unsure


def check_pip(got: set, points: dict, polygons: list[tuple]) -> list[str]:
    want, unsure = pip_pairs(points, polygons)
    missing = want - got
    extra = got - want - unsure
    out = []
    if missing:
        out.append(f"{len(missing)} pairs missing, e.g. {sorted(missing)[:3]}")
    if extra:
        out.append(f"{len(extra)} pairs not inside, e.g. {sorted(extra)[:3]}")
    return out


def grid_xy(points: dict) -> tuple[np.ndarray, np.ndarray]:
    """u32 web-mercator grid coordinates, the plane the radius join uses."""
    from pvt_spark import hilbert as hb

    x, y = hb.lonlat_to_xy(points["lon_dm7"], points["lat_dm7"])
    return x.astype(np.int64), y.astype(np.int64)


def check_radius(got: set, points: dict, queries: list[tuple], radius: int) -> list[str]:
    """``got`` holds (query_id, neighbor_id) pairs; exact integer test."""
    px, py = grid_xy(points)
    ids = points["feature_id"]
    want = set()
    r2 = radius * radius
    for qid, lon, lat, _h in queries:
        qx, qy = grid_xy({"lon_dm7": np.array([lon]), "lat_dm7": np.array([lat])})
        dx, dy = px - qx[0], py - qy[0]
        near = np.flatnonzero((np.abs(dx) <= radius) & (np.abs(dy) <= radius))
        ok = near[dx[near] * dx[near] + dy[near] * dy[near] <= r2]
        want.update((qid, int(ids[i])) for i in ok)
    out = []
    if want - got:
        out.append(f"{len(want - got)} radius pairs missing")
    if got - want:
        out.append(f"{len(got - want)} radius pairs outside the radius")
    return out


def decode_problems(zoom: int, tile_h: int, payload: bytes, manifest: dict | None) -> list[str]:
    """One tile payload against its key and, when the manifest is
    current, its manifest row (feature_count, distinct_features). A
    payload's feature id is derived from the feature's Hilbert key, not
    its feature_id (a way can share its key with a point, a relation's
    rings share one), so distinct ids can only be fewer than the
    manifest's distinct features, never more."""
    from pvt_spark.functions.pvt_codec import decode_tile

    d = decode_tile(bytes(payload))
    out = []
    if (d["zoom"], d["tile_h"]) != (zoom, tile_h):
        out.append(f"tile ({zoom},{tile_h}) decodes as ({d['zoom']},{d['tile_h']})")
    if manifest is not None:
        feats = [f["id"] for layer in d["layers"] for f in layer["features"]]
        row = manifest.get((zoom, tile_h))
        if row is None:
            out.append(f"tile ({zoom},{tile_h}) has no manifest row")
        elif len(feats) != row[0] or len(set(feats)) > row[1]:
            out.append(
                f"tile ({zoom},{tile_h}) holds {len(feats)} features with {len(set(feats))} ids, "
                f"manifest (count, distinct) {row}"
            )
    return out


def check_planet_tables(tiles, manifest: dict, seed: int, sample: int = 64):
    """Base tiles table (pandas: zoom, tile_h, payload) against the tile
    manifest: same key set, and a seeded sample decodes to the manifest
    counts. Returns (problems, digest) where the digest is a sha256 over
    the sorted (zoom, tile_h, md5(payload)) list, for comparing builds
    across commits."""
    keys = list(zip(tiles["zoom"].astype(int), tiles["tile_h"].astype(int)))
    out = []
    if set(keys) != set(manifest):
        out.append(
            f"tiles and manifest disagree on {len(set(keys) ^ set(manifest))} tile keys"
        )
    rng = np.random.default_rng([seed, 5])
    for i in rng.choice(len(keys), size=min(sample, len(keys)), replace=False):
        out += decode_problems(keys[i][0], keys[i][1], tiles["payload"].iloc[i], manifest)
    rows = sorted(
        (z, h, hashlib.md5(bytes(p)).hexdigest()) for (z, h), p in zip(keys, tiles["payload"])
    )
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    return out[:5], digest
