"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

City centres, row counts, polygon kinds and vertex budgets are constants
here, so a new seed redraws positions and shapes but keeps the amount of
work the same.  Everything is NumPy + pyarrow; no Spark and nothing from
``geolake_spark`` is used to make an input.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# (lat, lon, jitter sigma in degrees).  Zipf weights follow list order.
CITIES = np.array([
    (40.71, -74.01, 0.35), (51.51, -0.13, 0.30), (35.68, 139.69, 0.40),
    (48.86, 2.35, 0.25), (52.52, 13.40, 0.25), (41.90, 12.50, 0.25),
    (37.77, -122.42, 0.30), (-33.87, 151.21, 0.30), (19.43, -99.13, 0.35),
    (-23.55, -46.63, 0.35), (55.76, 37.62, 0.30), (1.35, 103.82, 0.15),
    (28.61, 77.21, 0.35), (-36.85, 174.76, 0.20), (-18.14, 178.44, 0.25),
    (64.15, -21.94, 0.15), (30.04, 31.24, 0.30), (-1.29, 36.82, 0.25),
    (45.46, 9.19, 0.20), (59.33, 18.07, 0.20), (34.05, -118.24, 0.40),
    (41.39, 2.17, 0.20), (-34.60, -58.38, 0.30), (6.52, 3.38, 0.30),
    (13.76, 100.50, 0.30), (37.57, 126.98, 0.30), (43.65, -79.38, 0.25),
    (25.20, 55.27, 0.20), (-26.20, 28.05, 0.25), (60.17, 24.94, 0.15),
    (65.01, -147.72, 0.20), (-8.34, -179.20, 0.15),
], dtype=np.float64)
CITY_ZIPF_S = 1.1
BACKGROUND_SHARE = 0.05
LANGS = ("en", "de", "fr", "it", "es", "ja")
LANG_WEIGHTS = np.array([0.45, 0.15, 0.12, 0.10, 0.10, 0.08])

# pip_tiles sizes
PIP_ROWS = 1_000_000
PIP_FILES = 8
WARM_ROWS = 100_000         # the warm-up slice each set-up round runs
# one slot per polygon: (kind, vertices); the list is the fixed budget
POLYGON_SLOTS = ([("convex", v) for v in (12, 24, 48, 96)] * 20
                 + [("concave", v) for v in (16, 32, 64, 128)] * 20
                 + [("holes", v) for v in (24, 48, 72, 120)] * 12
                 + [("antimeridian", 64)])

POLY_CITY_SKIP = 2
# polygon radius and, for edging polygons, centre offset from the city, in
# units of the city's jitter sigma; cycled over the slots
POLY_RADII = (0.3, 0.45, 0.6, 0.8, 0.5)
POLY_OFFSETS = (1.2, 1.6, 2.0)

# geo_requests sizes
REQ_ROWS = 15_000
REQ_DAYS = 30
REQ_START = np.datetime64("2024-03-01T00:00:00", "us")

# lake_ingest sizes
INGEST_ROWS_PER_DAY = 4_000
INGEST_BASE_DAYS = 1
INGEST_DAYS = 20            # days pre-generated; a run appends at most this many
INGEST_RECRAWL_ROWS = 600   # rows re-fetched (upserted) per merge round
INGEST_DELETE_ROWS = 200    # rows gone (deleted) per merge round
INGEST_START = np.datetime64("2024-06-01T00:00:00", "us")

_WORDS = np.array(
    ("lake tile cell spark query polygon page crawl index join point map "
     "region zoom level snapshot commit partition shuffle skew web city "
     "river street market museum station harbour bridge park school "
     "der die und le la les el los il di una").split())


def cache_root(checkout: str) -> str:
    return os.path.join(checkout, ".lakebench", "inputs")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def city_weights() -> np.ndarray:
    w = 1.0 / np.arange(1, len(CITIES) + 1) ** CITY_ZIPF_S
    return w / w.sum()


def draw_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, ...]:
    """Zipf-skewed city clusters plus a uniform background share.
    Returns (lat, lon, city) with city = -1 for background rows."""
    city = rng.choice(len(CITIES), size=n, p=city_weights())
    bg = rng.random(n) < BACKGROUND_SHARE
    c = CITIES[city]
    lat = c[:, 0] + rng.normal(0.0, 1.0, n) * c[:, 2]
    lon = c[:, 1] + rng.normal(0.0, 1.0, n) * c[:, 2] / np.cos(np.radians(c[:, 0]))
    lat = np.where(bg, rng.uniform(-60.0, 70.0, n), lat)
    lon = np.where(bg, rng.uniform(-180.0, 180.0, n), lon)
    lon = (lon + 180.0) % 360.0 - 180.0
    lat = np.clip(lat, -89.9, 89.9)
    return lat, lon, np.where(bg, -1, city)


def make_urls(prefix: str, host: np.ndarray, ids: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        pa.scalar(prefix), pc.cast(pa.array(host), pa.string()),
        pa.scalar(".example.org/p/"), pc.cast(pa.array(ids), pa.string()),
        "")


# ---------------------------------------------------------------- polygons


def _ring(cx: float, cy: float, rx: float, ry: float, rot: float,
          radii: np.ndarray) -> list[list[float]]:
    """Closed [lon, lat] ring through ``len(radii)`` vertices at evenly
    spread, slightly jittered angles."""
    n = len(radii)
    ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    x = rx * radii * np.cos(ang)
    y = ry * radii * np.sin(ang)
    xr = cx + x * np.cos(rot) - y * np.sin(rot)
    yr = cy + x * np.sin(rot) + y * np.cos(rot)
    pts = np.stack([xr, yr], axis=1)
    pts = np.vstack([pts, pts[:1]])
    return pts.round(6).tolist()


def make_polygons(seed: int) -> list[dict]:
    """The seeded polygon set: convex, concave (star), with holes, and one
    crossing the antimeridian (stored in the >180 longitude frame, the
    convention ``pip_join`` documents).  Even slots sit on a city centre,
    odd slots straddle a cluster's edge."""
    rng = _rng(seed, 2)
    out = []
    for pid, (kind, nv) in enumerate(POLYGON_SLOTS, start=1):
        if kind == "antimeridian":
            cy, cx = -17.0 + rng.uniform(-1, 1), 180.0
            r = 2.5
            rings = [_ring(cx, cy, r, r * 0.8, rng.uniform(0, np.pi),
                           np.ones(nv))]
            out.append({"polygon_id": pid, "kind": kind, "rings": rings})
            continue
        city = CITIES[POLY_CITY_SKIP + (pid * 7) % (len(CITIES) - POLY_CITY_SKIP)]
        sigma = city[2]
        # size and offset are fixed per slot; the seed draws direction,
        # rotation and shape, so the join's work stays about the same
        r = sigma * POLY_RADII[pid % len(POLY_RADII)]
        coslat = np.cos(np.radians(city[0]))
        cy, cx = city[0], city[1]
        if pid % 2:
            ang = rng.uniform(0, 2 * np.pi)
            off = sigma * POLY_OFFSETS[(pid // 2) % len(POLY_OFFSETS)]
            cy += off * np.sin(ang)
            cx += off * np.cos(ang) / coslat
        rx, ry = r / coslat, r
        rot = rng.uniform(0, np.pi)
        if kind == "concave":
            radii = np.where(np.arange(nv) % 2 == 0, 1.0,
                             rng.uniform(0.35, 0.7))
            radii = radii * rng.uniform(0.95, 1.05, nv)
            rings = [_ring(cx, cy, rx, ry, rot, radii)]
        elif kind == "holes":
            rings = [_ring(cx, cy, rx, ry, rot, np.ones(nv - nv // 4))]
            rings.append(_ring(cx, cy, rx * 0.4, ry * 0.4, rot,
                               np.ones(nv // 4)))
        else:
            rings = [_ring(cx, cy, rx, ry, rot, np.ones(nv))]
        # keep every polygon inside one longitude frame
        shell = np.asarray(rings[0])
        if shell[:, 0].min() < -180.0 or shell[:, 0].max() > 180.0:
            shift = 360.0 if shell[:, 0].min() < -180.0 else 0.0
            rings = [(np.asarray(rg) + [shift, 0.0]).round(6).tolist()
                     for rg in rings]
        out.append({"polygon_id": pid, "kind": kind, "rings": rings})
    return out


# ---------------------------------------------------------------- tables


def pip_pages(seed: int) -> pa.Table:
    rng = _rng(seed, 1)
    lat, lon, city = draw_points(rng, PIP_ROWS)
    host = np.where(city >= 0, city, len(CITIES)) * 1000 + rng.integers(0, 1000, PIP_ROWS)
    url = make_urls("https://h", host, np.arange(PIP_ROWS))
    return pa.table({"url": url, "lat": lat, "lon": lon})


def request_pages(seed: int) -> pa.Table:
    rng = _rng(seed, 3)
    lat, lon, city = draw_points(rng, REQ_ROWS)
    host = np.where(city >= 0, city, len(CITIES)) * 1000 + rng.integers(0, 1000, REQ_ROWS)
    url = make_urls("https://r", host, np.arange(REQ_ROWS))
    secs = rng.integers(0, REQ_DAYS * 86400, REQ_ROWS)
    ts = REQ_START + secs.astype("timedelta64[s]").astype("timedelta64[us]")
    lang = np.array(LANGS)[rng.choice(len(LANGS), REQ_ROWS, p=LANG_WEIGHTS)]
    return pa.table({"url": url, "warc_ts": pa.array(ts, pa.timestamp("us")),
                     "lang": pa.array(lang, pa.string()),
                     "lat": lat, "lon": lon})


def _html_text(rng: np.random.Generator, n: int, ids: np.ndarray):
    nw = rng.integers(40, 160, n)
    words = _WORDS[rng.integers(0, len(_WORDS), int(nw.sum()))]
    cuts = np.cumsum(nw)[:-1]
    html, text = [], []
    for i, ws in zip(ids, np.split(words, cuts)):
        body = " ".join(ws)
        text.append(f"page {i} {body}")
        html.append(f"<html><head><title>page {i}</title></head><body>"
                    f"<p>{body}</p></body></html>".encode())
    return pa.array(html, pa.binary()), pa.array(text, pa.string())


def ingest_day(seed: int, day: int) -> pa.Table:
    """One day of raw crawled pages.  Ids are unique across days."""
    rng = _rng(seed, 100 + day)
    n = INGEST_ROWS_PER_DAY
    ids = day * n + np.arange(n)
    lat, lon, city = draw_points(rng, n)
    host = np.where(city >= 0, city, len(CITIES)) * 1000 + rng.integers(0, 1000, n)
    url = make_urls("https://c", host, ids)
    day0 = INGEST_START + np.timedelta64(day, "D").astype("timedelta64[us]")
    ts = day0 + rng.integers(0, 86400, n).astype("timedelta64[s]").astype("timedelta64[us]")
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_WEIGHTS)]
    html, text = _html_text(rng, n, ids)
    return pa.table({"url": url, "warc_ts": pa.array(ts, pa.timestamp("us")),
                     "html": html, "text": text,
                     "lang": pa.array(lang, pa.string()),
                     "lat": lat, "lon": lon})


def recrawl(seed: int, round_no: int, n_live: int) -> tuple[np.ndarray, np.ndarray]:
    """Pick the rows a merge round re-fetches (upserts) and drops (deletes)
    from the ``n_live`` live rows.  Returns (upsert_idx, delete_idx); the two
    are disjoint."""
    rng = _rng(seed, 10_000 + round_no)
    pick = rng.choice(n_live, INGEST_RECRAWL_ROWS + INGEST_DELETE_ROWS,
                      replace=False)
    return pick[:INGEST_RECRAWL_ROWS], pick[INGEST_RECRAWL_ROWS:]


# ---------------------------------------------------------------- cache


def _write_dir(path: str, build) -> str:
    """Build into ``path`` atomically: a half-written cache never counts."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def write_parquet_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def pip_inputs(checkout: str, seed: int) -> str:
    """pages parquet dir, polygons json and the cached PIP/tile oracle."""
    from lakebench import oracles

    def build(d):
        pages = pip_pages(seed)
        write_parquet_files(pages, os.path.join(d, "pages"), PIP_FILES)
        write_parquet_files(pages.slice(0, WARM_ROWS), os.path.join(d, "warm"), 1)
        polys = make_polygons(seed)
        with open(os.path.join(d, "polygons.json"), "w") as f:
            json.dump(polys, f)
        pid, tx, ty, cnt = oracles.pip_tile_counts(
            pages["lat"].to_numpy(), pages["lon"].to_numpy(), polys, zoom=8)
        np.savez(os.path.join(d, "oracle.npz"), polygon_id=pid, tile_x=tx,
                 tile_y=ty, count=cnt)

    return _write_dir(os.path.join(cache_root(checkout), f"pip_tiles-{seed}"),
                      build)


def request_inputs(checkout: str, seed: int) -> str:
    def build(d):
        write_parquet_files(request_pages(seed), os.path.join(d, "pages"), 4)

    return _write_dir(os.path.join(cache_root(checkout),
                                   f"geo_requests-{seed}"), build)


def ingest_inputs(checkout: str, seed: int) -> str:
    def build(d):
        for day in range(INGEST_DAYS):
            pq.write_table(ingest_day(seed, day),
                           os.path.join(d, f"day-{day:03d}.parquet"))

    return _write_dir(os.path.join(cache_root(checkout), f"lake_ingest-{seed}"),
                      build)
