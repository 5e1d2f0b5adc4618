"""Reference answers, written independently of ``geolake_spark``.

Plain NumPy / pandas versions of what each workload asks the engine:

* even-odd ray-cast point-in-polygon, then a z/x/y tile roll-up;
* brute-force haversine top-k;
* bbox / time / lang row masks;
* the expected table state after each commit (a keyed pandas frame).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EARTH_RADIUS_KM = 6371.0
MERCATOR_MAX_LAT = 85.05112878


# ---------------------------------------------------------------- PIP


def _ray_cast(x: np.ndarray, y: np.ndarray, rings: list) -> np.ndarray:
    """Even-odd crossing parity of points (x=lon, y=lat) over every edge of
    every ring.  Edge test, in this operation order: the edge spans the
    point's latitude ((y1 > y) != (y2 > y)) and x < x1 + ((y - y1) *
    (x2 - x1)) / (y2 - y1).  Points are bucketed into latitude bands and
    each band only visits the edges whose latitude range reaches it; the
    per-point test is unchanged, so the answer is the same as visiting
    every edge."""
    edges = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        edges.append(np.hstack([r[:-1], r[1:]]))
    e = np.vstack(edges)
    e = e[e[:, 1] != e[:, 3]]            # horizontal edges never cross
    inside = np.zeros(len(x), dtype=bool)
    if len(x) == 0:
        return inside
    n_bands = max(1, min(64, len(x) // 256))
    lo, hi = float(y.min()), float(y.max())
    width = (hi - lo) / n_bands or 1.0
    band = np.minimum(((y - lo) / width).astype(np.int64), n_bands - 1)
    order = np.argsort(band, kind="stable")
    starts = np.searchsorted(band[order], np.arange(n_bands + 1))
    e_lo = np.minimum(e[:, 1], e[:, 3])
    e_hi = np.maximum(e[:, 1], e[:, 3])
    for b in range(n_bands):
        idx = order[starts[b]:starts[b + 1]]
        if len(idx) == 0:
            continue
        yb, xb = y[idx], x[idx]
        b_lo, b_hi = float(yb.min()), float(yb.max())
        acc = np.zeros(len(idx), dtype=bool)
        for x1, y1, x2, y2 in e[(e_lo <= b_hi) & (e_hi >= b_lo)]:
            cross = (y1 > yb) != (y2 > yb)
            xin = x1 + ((yb - y1) * (x2 - x1)) / (y2 - y1)
            acc ^= cross & (xb < xin)
        inside[idx] = acc
    return inside


def points_in_polygon(lat: np.ndarray, lon: np.ndarray,
                      rings: list) -> np.ndarray:
    """Boolean mask.  A polygon whose shell reaches past lon 180 is stored
    in the >180 frame, so western-hemisphere points are shifted by 360."""
    shell = np.asarray(rings[0], dtype=np.float64)
    if shell[:, 0].max() > 180.0:
        lon = np.where(lon < 0.0, lon + 360.0, lon)
    return _ray_cast(np.asarray(lon, np.float64), np.asarray(lat, np.float64),
                     rings)


def tile_xy(lat: np.ndarray, lon: np.ndarray, zoom: int):
    n = float(1 << zoom)
    la = np.radians(np.clip(lat, -MERCATOR_MAX_LAT, MERCATOR_MAX_LAT))
    x = np.floor((lon + 180.0) / 360.0 * n)
    y = np.floor((1.0 - np.log(np.tan(la) + 1.0 / np.cos(la)) / np.pi)
                 / 2.0 * n)
    return (np.clip(x, 0, n - 1).astype(np.int64),
            np.clip(y, 0, n - 1).astype(np.int64))


def pip_tile_counts(lat: np.ndarray, lon: np.ndarray, polygons: list[dict],
                    zoom: int):
    """Matches of every polygon rolled up to (polygon, tile) page counts.
    Returns four aligned arrays sorted by (polygon_id, tile_x, tile_y)."""
    order = np.argsort(lon, kind="stable")
    slon, slat = lon[order], lat[order]
    keys = []
    for p in polygons:
        shell = np.asarray(p["rings"][0], dtype=np.float64)
        w, e = float(shell[:, 0].min()), float(shell[:, 0].max())
        s, n = float(shell[:, 1].min()), float(shell[:, 1].max())
        if e > 180.0:   # >180 frame: [w, 180] plus [-180, e - 360]
            spans = [(w, 180.0), (-180.0, e - 360.0)]
        else:
            spans = [(w, e)]
        for a, b in spans:
            i0 = np.searchsorted(slon, a, side="left")
            i1 = np.searchsorted(slon, b, side="right")
            cand_lat, cand_lon = slat[i0:i1], slon[i0:i1]
            keep = (cand_lat >= s) & (cand_lat <= n)
            cand_lat, cand_lon = cand_lat[keep], cand_lon[keep]
            hit = points_in_polygon(cand_lat, cand_lon, p["rings"])
            tx, ty = tile_xy(cand_lat[hit], cand_lon[hit], zoom)
            keys.append(np.stack([np.full(len(tx), p["polygon_id"]), tx, ty],
                                 axis=1))
    allk = np.vstack(keys) if keys else np.zeros((0, 3), np.int64)
    uniq, cnt = np.unique(allk, axis=0, return_counts=True)
    return uniq[:, 0], uniq[:, 1], uniq[:, 2], cnt


# ---------------------------------------------------------------- kNN


def haversine_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(np.asarray(lon2) - np.asarray(lon1))
    h = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(h, 1.0)))


def knn(lat: np.ndarray, lon: np.ndarray, ids: np.ndarray,
        q_lat: float, q_lon: float, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force k nearest: (ids, distances) ordered by (distance, id)."""
    d = haversine_km(lat, lon, q_lat, q_lon)
    part = np.argpartition(d, k)[:k + 8] if len(d) > k + 8 else np.arange(len(d))
    sel = part[np.lexsort((ids[part], d[part]))][:k]
    return ids[sel], d[sel]


# ---------------------------------------------------------------- masks


def bbox_mask(lat, lon, south, north, west, east) -> np.ndarray:
    lat_ok = (lat >= south) & (lat <= north)
    if west <= east:
        return lat_ok & (lon >= west) & (lon <= east)
    return lat_ok & ((lon >= west) | (lon <= east))


def time_mask(ts: np.ndarray, start, stop) -> np.ndarray:
    return (ts >= np.datetime64(start)) & (ts <= np.datetime64(stop))


def lang_mask(lang: np.ndarray, langs) -> np.ndarray:
    return np.isin(lang, list(langs))


def tile_counts(lat: np.ndarray, lon: np.ndarray, zoom: int) -> dict:
    tx, ty = tile_xy(lat, lon, zoom)
    uniq, cnt = np.unique(np.stack([tx, ty], axis=1), axis=0,
                          return_counts=True)
    return {(zoom, int(a), int(b)): int(c) for (a, b), c in zip(uniq, cnt)}


# ---------------------------------------------------------------- table state


class TableState:
    """Expected live rows of a keyed table, updated commit by commit."""

    def __init__(self, key: str):
        self.key = key
        self.df = pd.DataFrame()

    def append(self, rows: pd.DataFrame) -> None:
        self.df = pd.concat([self.df, rows], ignore_index=True)

    def merge(self, upserts: pd.DataFrame, delete_keys) -> None:
        gone = set(delete_keys) | set(upserts[self.key])
        keep = self.df[~self.df[self.key].isin(gone)]
        self.df = pd.concat([keep, upserts], ignore_index=True)

    def where(self, col: str, lo, hi) -> pd.DataFrame:
        v = self.df[col]
        return self.df[(v >= lo) & (v <= hi)]


def same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str],
              key: str) -> bool:
    """Row-set equality on ``cols`` (order-free, keyed, exact)."""
    if len(got) != len(want):
        return False
    g = got[cols].sort_values(key).reset_index(drop=True)
    w = want[cols].sort_values(key).reset_index(drop=True)
    return g.equals(w)
