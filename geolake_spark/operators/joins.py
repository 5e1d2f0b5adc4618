"""Spatial joins: point-in-polygon broadcast join and kNN ring-expansion join.

North-rule operators (BASELINE.json:6,14; SURVEY.md §2.3 J1/J2).  Design:

* **PIP join** — polygons are a small dimension.  On the driver we cover
  each polygon's bbox with grid cells at an adaptively-chosen prefilter
  resolution and *classify* every cover cell as INTERIOR (wholly inside ->
  no exact test) or BOUNDARY (an edge passes through -> exact refine).  The
  cover table — including per-row polygon EDGE ARRAYS for boundary cells —
  is broadcast and equi-joined against the pages' cell column (broadcast
  hash join, zero shuffle of the fact table); boundary rows then ray-cast
  inline via higher-order functions over the edge arrays, which keeps the
  stage in whole-stage codegen at any polygon complexity.
* **kNN join** — one per-cell histogram aggregation sizes a lat/lon search
  box per probe on the driver; candidates come from a broadcast range-box
  join (codegen predicates), then haversine + windowed top-k.  Exactness is
  certified per probe by the geometric bound (kth distance <= distance to
  the nearest box edge); only failing probes re-expand.  Deterministic
  tie-break on (distance, id).

Reference analogues: geobbox region masking
(/root/reference/datastore/datastore/datastore.py:429-431) and nearest-location
selection (datastore.py:432-434,444-455).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from geolake_spark import cells
from geolake_spark.functions.geo import grid_cell_col, haversine_col

DEFAULT_PIP_RES = 7
DEFAULT_KNN_RES = 6

# ---------------------------------------------------------------------------
# Point-in-polygon
# ---------------------------------------------------------------------------


def _segments(rings: list[np.ndarray]) -> np.ndarray:
    """(m, 4) array of [x1, y1, x2, y2] for all ring edges."""
    segs = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        segs.append(np.hstack([r[:-1], r[1:]]))
    return np.vstack(segs)


def _seg_hits_rects(seg: np.ndarray, w: np.ndarray, e: np.ndarray,
                    s: np.ndarray, n: np.ndarray) -> np.ndarray:
    """One segment vs many rects (vectorized Liang-Barsky): bool per rect."""
    x1, y1, x2, y2 = (float(v) for v in seg)
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros_like(w)
    t1 = np.ones_like(w)
    ok = np.ones_like(w, dtype=bool)
    for p, q in ((-dx, x1 - w), (dx, e - x1), (-dy, y1 - s), (dy, n - y1)):
        if p == 0.0:
            ok &= ~(q < 0)
            continue
        r = q / p
        if p < 0:
            t0 = np.maximum(t0, r)
        else:
            t1 = np.minimum(t1, r)
    return ok & (t0 <= t1)


def _segs_intersect_rect(segs: np.ndarray, w: float, e: float,
                         s: float, n: float) -> bool:
    """Any segment overlaps the [w,e]x[s,n] rect (scalar convenience)."""
    wa = np.array([w]); ea = np.array([e]); sa = np.array([s]); na = np.array([n])
    for seg in segs:
        if _seg_hits_rects(seg, wa, ea, sa, na)[0]:
            return True
    return False


def _crosses_antimeridian(rings: list[np.ndarray]) -> bool:
    shell = np.asarray(rings[0], dtype=np.float64)
    return float(shell[:, 0].max()) > 180.0


def _norm_lon_for(rings: list[np.ndarray], lon: np.ndarray) -> np.ndarray:
    """Polygons crossing the antimeridian use lon > 180 coordinates; shift
    western-hemisphere points into that frame."""
    if _crosses_antimeridian(rings):
        return np.where(lon < 0.0, lon + 360.0, lon)
    return lon


def choose_pip_res(polygons: list[dict], max_cover_cells: int = 8192) -> int:
    """Smallest resolution whose estimated total bbox cover fits the budget.

    The cover table is broadcast and built on the driver — it must stay small
    even for continent-sized polygons; finer refinement is cheap because the
    boundary ray-cast is inline codegen, not Python."""
    for res in range(9, 1, -1):
        nx, ny = cells.grid_dims(res)
        total = 0
        for p in polygons:
            rings = [np.asarray(r, dtype=np.float64) for r in p["rings"]]
            s, n, w, e = cells.polygon_bbox(rings)
            total += max(1, int((e - w) / 360.0 * nx) + 1) * \
                max(1, int((n - s) / 180.0 * ny) + 1)
        if total <= max_cover_cells:
            return res
    return 2


def build_pip_cover(polygons: list[dict], res: int = DEFAULT_PIP_RES) -> pd.DataFrame:
    """(cell, polygon_id, interior) candidate table, driver-side.

    ``polygons``: [{polygon_id, rings: [[[lon,lat],...], ...]}, ...].
    """
    rows = {"cell": [], "polygon_id": [], "interior": [],
            "edges": [], "shift": []}
    for poly in polygons:
        rings = [np.asarray(r, dtype=np.float64) for r in poly["rings"]]
        south, north, west, east = cells.polygon_bbox(rings)
        if east > 180.0:  # stored in >180 frame; convert to wrap form
            cover = cells.cells_covering_bbox(south, north, west, east - 360.0, res)
        else:
            cover = cells.cells_covering_bbox(south, north, west, east, res)
        segs = _segments(rings)
        cs, cn, cw, ce = cells.cell_bounds(cover)
        if _crosses_antimeridian(rings):
            shift = cw < 0.0
            cw = np.where(shift, cw + 360.0, cw)
            ce = np.where(shift, ce + 360.0, ce)
        # vectorized classification: boundary = any edge crosses the cell
        # rect; else interior iff the cell center is inside.  Everything is
        # array-at-a-time over the cover (segments are few).
        boundary = np.zeros(len(cover), dtype=bool)
        for seg in segs:
            boundary |= _seg_hits_rects(seg, cw, ce, cs, cn)
        center_in = cells.points_in_polygon((cs + cn) / 2.0, (cw + ce) / 2.0, rings)
        keep = boundary | (center_in & ~boundary)
        edge_list = [[float(v) for v in seg] for seg in segs]  # [x1,y1,x2,y2]
        shift = bool(_crosses_antimeridian(rings))
        for c, b in zip(cover[keep], boundary[keep]):
            rows["cell"].append(int(c))
            rows["polygon_id"].append(poly["polygon_id"])
            rows["interior"].append(not b)
            rows["edges"].append(edge_list if b else [])
            rows["shift"].append(shift)
    return pd.DataFrame(rows)


# Cover DataFrames are cached per (session, polygon set, res): building one
# via createDataFrame(pandas-with-nested-arrays) costs >1s of driver time
# (pickle serialization), while a pyarrow parquet round-trip through a temp
# file is ~50ms and the cached read is free on reuse.
_COVER_CACHE: dict = {}


def _cover_df(spark: SparkSession, cover_pdf: pd.DataFrame,
              polygons: list[dict], res: int) -> DataFrame:
    import hashlib
    import json
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    key = (id(spark._jsparkSession),
           hashlib.md5(json.dumps([(p["polygon_id"], p["rings"])
                                   for p in polygons], sort_keys=True)
                       .encode()).hexdigest(), res)
    if key in _COVER_CACHE:
        return _COVER_CACHE[key]
    tbl = pa.table({
        "cell": pa.array(cover_pdf["cell"], pa.int64()),
        "polygon_id": pa.array(cover_pdf["polygon_id"], pa.int64()),
        "interior": pa.array(cover_pdf["interior"], pa.bool_()),
        "edges": pa.array(list(cover_pdf["edges"]),
                          pa.list_(pa.list_(pa.float64()))),
        "shift": pa.array(cover_pdf["shift"], pa.bool_()),
    })
    path = os.path.join(tempfile.gettempdir(),
                        f"pip-cover-{key[1]}-{res}.parquet")
    if not os.path.exists(path):
        pq.write_table(tbl, path)
    df = spark.read.parquet(path)
    _COVER_CACHE[key] = df
    return df


def pip_join(points: DataFrame, polygons: list[dict],
             res: int | None = None,
             lat_col: str = "lat", lon_col: str = "lon",
             cell_col: str | None = None) -> DataFrame:
    """points x polygons -> points rows + ``polygon_id`` (inner, 1 row per
    containing polygon).

    Physical shape: broadcast equi-join on the grid cell; INTERIOR cover
    cells pass through untested; BOUNDARY cells refine with the exact
    ray-cast evaluated as higher-order functions over the broadcast edge
    arrays (whole-stage codegen at any polygon complexity).

    ``cell_col``: use a precomputed cell-id column instead of deriving one
    from lat/lon.  Cell ids encode their resolution in the high bits
    (``cells.py``: ``id = res<<56 | iy<<28 | ix``), so the polygon cover
    MUST be built at that same resolution or the equi-join silently matches
    nothing.  The resolution is therefore sampled from the data and, when
    ``res`` is also given, validated against it (raises on mismatch).
    """
    spark = points.sparkSession
    if cell_col is not None and points.isStreaming and res is None:
        # no batch to sample from — a silently-guessed resolution is the
        # exact empty-join bug this validation exists to prevent
        raise ValueError(
            f"streaming input with cell_col={cell_col!r} requires an "
            f"explicit res= (cell ids embed their resolution; a mismatched "
            f"cover matches nothing)")
    if cell_col is not None and not points.isStreaming:
        sample = (points.where(F.col(cell_col).isNotNull())
                  .select(F.col(cell_col).alias("_c")).head(1))
        if sample:
            data_res = int(sample[0]["_c"]) >> cells._RES_SHIFT
            if res is None:
                res = data_res
            elif res != data_res:
                raise ValueError(
                    f"cell_col {cell_col!r} holds resolution-{data_res} ids "
                    f"but res={res} was requested — the cover would never "
                    f"match; pass matching res or omit it")
    if res is None:
        res = choose_pip_res(polygons) if cell_col is None else DEFAULT_PIP_RES
    cover_pdf = build_pip_cover(polygons, res)
    cell = (F.col(cell_col) if cell_col else
            grid_cell_col(F.col(lat_col), F.col(lon_col), res))
    pts = points.withColumn("_cell", cell)
    lat, lon = F.col(lat_col), F.col(lon_col)

    # ONE scan, one broadcast join.  Boundary cover rows carry the polygon's
    # edge array [x1,y1,x2,y2]*; interior rows carry [].  The exact ray-cast
    # runs as higher-order functions over that array — the generated code
    # stays tiny and fully whole-stage-codegen regardless of vertex count
    # (an inlined per-edge CASE ladder blows the JVM's 64KB method limit and
    # silently drops the stage to interpreted mode — measured 5-10x slower).
    # Arithmetic mirrors cells.points_in_ring exactly (same IEEE double ops,
    # same order): crossing iff (y1 > lat) != (y2 > lat) and
    # lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1); odd crossings = inside.
    cov = F.broadcast(_cover_df(spark, cover_pdf, polygons, res))
    joined = (pts.join(cov, pts["_cell"] == cov["cell"], "inner")
              .drop("cell", "_cell"))
    lon2 = F.when(F.col("shift") & (lon < 0.0), lon + F.lit(360.0)).otherwise(lon)
    x1 = lambda e: F.element_at(e, 1)
    y1 = lambda e: F.element_at(e, 2)
    x2 = lambda e: F.element_at(e, 3)
    y2 = lambda e: F.element_at(e, 4)
    crossing = F.aggregate(
        F.filter(F.col("edges"),
                 lambda e: (y1(e) > lat) != (y2(e) > lat)),
        F.lit(0),
        lambda acc, e: acc + F.when(
            lon2 < x1(e) + ((lat - y1(e)) * (x2(e) - x1(e))) / (y2(e) - y1(e)),
            F.lit(1)).otherwise(F.lit(0)))
    inside = (crossing % 2) == 1
    return (joined.filter(F.when(F.col("interior"), F.lit(True)).otherwise(inside))
            .drop("interior", "edges", "shift"))


# ---------------------------------------------------------------------------
# kNN join (ring expansion, exact)
# ---------------------------------------------------------------------------


KNN_BASE_RES = 11  # histogram resolution the density stats derive from


def _meridian_segment_dist(q_lat, dlam, lat_s, lat_n):
    """EXACT great-circle min distance (km) from a point at latitude
    ``q_lat`` to a meridian segment [lat_s, lat_n] whose longitude gap from
    the point is ``dlam`` degrees (all Column expressions).

    Distance along the segment has a single stationary point at the
    geodesic foot latitude tan(phi*) = tan(phi1)/cos(dlam), computed as
    atan2(sin phi1, cos phi1 cos dlam) so the over-pole regime
    (cos dlam <= 0) clamps toward +-90; the minimum is attained at the
    clamped foot or a segment endpoint, all of which are actual points of
    the segment — so the min of their haversines is exact (sound and
    tight; in particular it does NOT collapse to 0 for segments reaching
    a pole: the limit is the probe's colatitude, the true over-pole cost)."""
    phi1 = F.radians(q_lat)
    foot = F.degrees(F.atan2(F.sin(phi1), F.cos(phi1) * F.cos(F.radians(dlam))))
    cands = [F.least(F.greatest(foot, lat_s), lat_n), lat_n, lat_s]
    return F.least(*[haversine_col(q_lat, F.lit(0.0), c, dlam) for c in cands])


def _parent_cell_col(cell: F.Column, from_res: int, to_res: int) -> F.Column:
    """Exact quad-tree ancestor as a JVM expression (cells.cell_parent)."""
    s = from_res - to_res
    ix = cell.bitwiseAND(F.lit((1 << 28) - 1))
    iy = F.shiftright(cell, 28).bitwiseAND(F.lit((1 << 28) - 1))
    return (F.lit(to_res) * F.lit(1 << 56).cast("bigint")
            + F.shiftright(iy, s) * F.lit(1 << 28).cast("bigint")
            + F.shiftright(ix, s))


def _choose_res_from_hist(hist, k: int, base_res: int) -> int:
    """Finest resolution whose occupied cells average >= ~2k points, from a
    base-res histogram (cell, cnt): occupancy at every coarser resolution
    comes from ONE aggregation via exact quad-tree parents."""
    stats = hist.agg(
        F.sum("cnt").alias("n"),
        *[F.countDistinct(_parent_cell_col(F.col("cell"), base_res, r))
          .alias(f"occ{r}") for r in range(base_res + 1)]).first()
    n = stats["n"] or 0
    target = max(2 * k, 16)
    for r in range(base_res, -1, -1):
        if n / max(stats[f"occ{r}"], 1) >= target:
            return r
    return 0


def choose_knn_res(points: DataFrame, k: int,
                   lat_col: str = "lat", lon_col: str = "lon",
                   base_res: int = KNN_BASE_RES) -> int:
    """Finest resolution whose occupied cells average >= ~2k points.

    Too coarse and one urban cell holds 10^4-10^5 points — every probe then
    drags them all into the per-probe top-k window (measured: res 6 on a
    4M-row city-clustered table made a 10k-probe join exceed 10 minutes;
    the adaptive choice finishes in seconds).  One scan builds the base-res
    histogram; the rest is metadata (:func:`_choose_res_from_hist`)."""
    hist = (points.groupBy(grid_cell_col(F.col(lat_col), F.col(lon_col),
                                         base_res).alias("cell"))
            .agg(F.count("*").alias("cnt")))
    return _choose_res_from_hist(hist, k, base_res)


def knn_join_table(points: DataFrame, probes: DataFrame, k: int,
                   res: int | None = None,
                   lat_col: str = "lat", lon_col: str = "lon",
                   id_cols: list[str] | None = None,
                   max_iters: int = 12,
                   max_enum_radius: int = 8,
                   verbose: bool = False) -> DataFrame:
    """Exact kNN for a probe *table* (distributed ring expansion).

    Unlike :func:`knn_join` (driver-orchestrated box join, right for <= a
    few hundred probes), every per-probe decision here is a DataFrame
    column: initial search radius from the probe cell's local density,
    candidate cells enumerated by exploding the Chebyshev ring, candidates
    found by an equi-join on the cell id (shuffle hash join — scales to
    millions of probes), top-k via a window, and the exactness certificate
    (kth distance <= distance to the nearest edge of the guaranteed-covered
    box) evaluated per row.  Only unresolved probes re-enter the loop with
    a doubled radius; the driver loop runs O(log world) times over whole
    DataFrames, never per probe.

    When a probe's radius grows past ``max_enum_radius`` cells, enumeration
    switches to a coarser resolution (cells are exact quad-tree parents),
    so the exploded ring stays <= (2*(max_enum_radius+1)+1)^2 rows per
    probe while still covering the base-resolution disk — sparse regions
    cannot blow up the candidate row count.

    ``probes``: DataFrame (query_id, lat, lon).  Returns (query_id, q_lat,
    q_lon, *id_cols, dist_km, rank), ties broken on (dist, id_cols).
    ``res=None`` picks the finest resolution whose occupied cells average
    >= ~2k points (:func:`choose_knn_res`) — the coarse-res failure mode is
    quadratic candidate blowup in dense cells.
    """
    spark = points.sparkSession
    id_cols = id_cols or ["url"]
    pts = points.select(F.col(lat_col).alias("p_lat"),
                        F.col(lon_col).alias("p_lon"), *id_cols)

    # ONE cached histogram guides everything: the adaptive resolution
    # choice (when res is None), candidate-cell pruning each iteration and
    # coarse-res variants — all via exact quad-tree parent rollups of a
    # single points scan (res=None used to scan the table twice: once for
    # choose_knn_res's histogram and once for this one).
    if res is None:
        hist_base = (pts.groupBy(
            grid_cell_col(F.col("p_lat"), F.col("p_lon"), KNN_BASE_RES)
            .alias("cell")).agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=True))
        res = _choose_res_from_hist(hist_base, k, KNN_BASE_RES)
        if res == KNN_BASE_RES:
            hist0 = hist_base
        else:
            hist0 = (hist_base.groupBy(
                _parent_cell_col(F.col("cell"), KNN_BASE_RES, res)
                .alias("cell")).agg(F.sum("cnt").alias("cnt"))
                .localCheckpoint(eager=True))
    else:
        hist0 = (pts.groupBy(
            grid_cell_col(F.col("p_lat"), F.col("p_lon"), res).alias("cell"))
            .agg(F.count("*").alias("cnt")).localCheckpoint(eager=True))
    nx, ny = cells.grid_dims(res)
    deg_per_cell = 180.0 / ny
    hist_by_h: dict[int, DataFrame] = {0: hist0}

    def hist_at(hv: int) -> DataFrame:
        if hv not in hist_by_h:
            hist_by_h[hv] = (hist0.groupBy(
                _parent_cell_col(F.col("cell"), res, res - hv).alias("cell"))
                .agg(F.sum("cnt").alias("cnt")).localCheckpoint(eager=True))
        return hist_by_h[hv]

    pr = (probes.select(F.col("query_id"),
                        F.col(lat_col).alias("q_lat"),
                        F.col(lon_col).alias("q_lon"))
          .withColumn("c0", grid_cell_col(F.col("q_lat"), F.col("q_lon"), res))
          .withColumn("ix0", F.col("c0").bitwiseAND(F.lit((1 << 28) - 1)))
          .withColumn("iy0", F.shiftright("c0", 28)
                      .bitwiseAND(F.lit((1 << 28) - 1)))
          .withColumn("target", F.lit(2 * k)))

    # Density-seeded initial radius: the smallest sampled coarsening level
    # h whose PARENT CELL of the probe is occupied yields radius 2^h (a
    # Chebyshev radius of 2^h base cells covers the entire parent, hence
    # whatever data it holds).  Probes in empty regions — the round-2
    # sparse-probe tail, which spent its first rounds enumerating empty
    # rings before the 4x growth kicked in — start at a radius that can
    # actually reach data.  Equi-joins on parent ids only (histogram
    # metadata, no point data); dense probes keep the old default.
    seed_hs = [h for h in (2, 4, 6, 8) if h < res]
    if seed_hs:
        par = (pr.select("query_id", F.explode(F.array(*[
            F.struct(F.lit(h).alias("h"),
                     _parent_cell_col(F.col("c0"), res, res - h).alias("cell"))
            for h in seed_hs])).alias("p"))
            .select("query_id", F.col("p.h").alias("h"),
                    F.col("p.cell").alias("cell")))
        occ_all = hist_at(seed_hs[0]).select(F.lit(seed_hs[0]).alias("h"),
                                             "cell")
        for hv in seed_hs[1:]:
            occ_all = occ_all.unionByName(
                hist_at(hv).select(F.lit(hv).alias("h"), "cell"))
        found = (par.join(occ_all, ["h", "cell"])
                 .groupBy("query_id").agg(F.min("h").alias("h_occ")))
        pr = (pr.join(found, "query_id", "left")
              .withColumn("radius", F.greatest(
                  F.lit(max_enum_radius),
                  F.coalesce(F.pow(F.lit(2.0), F.col("h_occ")).cast("int"),
                             F.lit(1 << (seed_hs[-1] + 2)))))
              .drop("h_occ"))
    else:
        pr = pr.withColumn("radius", F.lit(max_enum_radius))
    pr = pr.drop("c0")

    out_parts: list[DataFrame] = []
    active = pr.localCheckpoint(eager=True)

    def dmin_km():
        """EXACT great-circle min distance (km) from the probe to the cell
        rectangle [lat_s, lat_n] x [lon_w, lon_e] — used as the pruning
        lower bound, so it must never exceed the true distance.

        The round-2 bound (lon-gap arc scaled by cos at the max endpoint
        |lat|) was UNSOUND at high latitudes: geodesics swing poleward of
        their endpoints, so e.g. two points at lat 85 with dlon 180 are
        ~1110 km apart over the pole while the parallel-arc "bound" said
        ~1470 km — a cell holding a true neighbor could be pruned and the
        exactness certificate would confirm a wrong answer.

        Exact construction: for any rect point, great-circle distance is
        monotonically increasing in the wrap-aware lon gap at fixed lat, so
        the nearest rect point lies on the meridian edge with the smaller
        gap dlam (or at dlam=0 when the probe's lon is inside the span);
        the exact distance to that meridian segment is
        :func:`_meridian_segment_dist` (geodesic-foot construction) —
        sound AND tight (a probe inside the cell yields 0)."""
        gap_w = F.abs(((F.col("q_lon") - F.col("lon_w") + 540.0) % 360.0)
                      - 180.0)
        gap_e = F.abs(((F.col("q_lon") - F.col("lon_e") + 540.0) % 360.0)
                      - 180.0)
        inside = (F.col("q_lon") >= F.col("lon_w")) & \
            (F.col("q_lon") <= F.col("lon_e"))
        dlam = F.when(inside, F.lit(0.0)).otherwise(F.least(gap_w, gap_e))
        return _meridian_segment_dist(F.col("q_lat"), dlam,
                                      F.col("lat_s"), F.col("lat_n"))

    def rank_and_keep(cells_df, probe_cols):
        """Keep per probe the occupied cells that can possibly hold a top-k
        point; returns (kept, theta) with theta = min dmin over the PRUNED
        cells (null if none pruned).

        The certificate is built to be self-fulfilling: cells are ranked by
        ``dnear`` (haversine to the coordinate-clamped nearest cell point)
        and accumulated until `target` points (the count-kept set); U = the
        max EXACT per-cell upper bound (dnear + cell diagonal arc) over
        that set, so the k <= target nearest points all lie within U.  We
        then keep every cell whose LOWER bound dmin <= U — any pruned cell
        has all its points beyond U >= kth, so `kth <= theta` holds by
        construction whenever >= k points were found (no ping-pong between
        kth and a granularity-loose bound; that ping-pong made far probes
        expand forever in an earlier version)."""
        diag = haversine_col(F.col("lat_s"), F.col("lon_w"),
                             F.col("lat_n"), F.col("lon_e"))
        wrap = ((F.col("q_lon") - F.col("lon_w") + 540.0) % 360.0) - 180.0
        wrap_e = ((F.col("q_lon") - F.col("lon_e") + 540.0) % 360.0) - 180.0
        inside = (F.col("q_lon") >= F.col("lon_w")) & \
            (F.col("q_lon") <= F.col("lon_e"))
        clamp_lon = F.when(inside, F.col("q_lon")).otherwise(
            F.when(F.abs(wrap) <= F.abs(wrap_e), F.col("lon_w"))
            .otherwise(F.col("lon_e")))
        clamp_lat = F.least(F.greatest(F.col("q_lat"), F.col("lat_s")),
                            F.col("lat_n"))
        dnear = haversine_col(F.col("q_lat"), F.col("q_lon"),
                              clamp_lat, clamp_lon)
        scored = cells_df.withColumn("dnear", dnear) \
            .withColumn("ub", F.col("dnear") + diag)
        w_cum = (Window.partitionBy("query_id")
                 .orderBy(F.col("dnear").asc(), F.col("cell").asc())
                 .rowsBetween(Window.unboundedPreceding, 0))
        w_probe = Window.partitionBy("query_id")
        with_cum = scored.withColumn("cum", F.sum("cnt").over(w_cum))
        u = F.max(F.when(F.col("cum") - F.col("cnt") < F.col("target"),
                         F.col("ub"))).over(w_probe)
        flagged = with_cum.withColumn("_keep", F.col("dmin") <= u)
        kept = flagged.filter(F.col("_keep"))
        theta = (flagged.filter(~F.col("_keep"))
                 .groupBy("query_id").agg(F.min("dmin").alias("theta")))
        return kept.select("query_id", *probe_cols, "cell", "cnt"), theta

    for it in range(max_iters):
        r = F.col("radius")
        # coarsen enumeration so the exploded ring stays bounded:
        # h halvings => parent res-h ring of radius ceil(r/2^h)+1 covers the
        # base-res Chebyshev-r disk (quad-tree parents are exact).
        h = F.when(r <= max_enum_radius, F.lit(0)).otherwise(
            F.ceil(F.log2(r.cast("double") / max_enum_radius)).cast("int"))
        h = F.least(h, F.lit(res))  # res-h >= 0 (res 0 grid is 8x4 — tiny)
        enum_r = (F.ceil(r.cast("double") / F.pow(F.lit(2.0), h)).cast("int")
                  + F.when(h > 0, F.lit(1)).otherwise(F.lit(0)))
        # shiftright needs a literal bit count, so halve via exact double
        # division (indices < 2^28 << 2^53: floor(x / 2^h) is exact)
        pow2h = F.pow(F.lit(2.0), F.col("h").cast("double"))
        stepped = (active
                   .withColumn("h", h).withColumn("enum_r", enum_r)
                   .withColumn("e_nx", F.floor(F.lit(float(nx)) / pow2h)
                               .cast("bigint"))
                   .withColumn("e_ny", F.floor(F.lit(float(ny)) / pow2h)
                               .cast("bigint"))
                   .withColumn("e_ix0", F.floor(F.col("ix0") / pow2h)
                               .cast("bigint"))
                   .withColumn("e_iy0", F.floor(F.col("iy0") / pow2h)
                               .cast("bigint")))
        ring = (stepped
                .withColumn("dy", F.explode(F.sequence(-F.col("enum_r"),
                                                       F.col("enum_r"))))
                .withColumn("iy", F.col("e_iy0") + F.col("dy"))
                .filter((F.col("iy") >= 0) & (F.col("iy") < F.col("e_ny")))
                .withColumn("dx", F.explode(F.sequence(-F.col("enum_r"),
                                                       F.col("enum_r"))))
                .withColumn("ix", ((F.col("e_ix0") + F.col("dx"))
                                   % F.col("e_nx") + F.col("e_nx"))
                            % F.col("e_nx"))
                .select("query_id", "q_lat", "q_lon", "ix0", "iy0", "h",
                        "target",
                        ((F.lit(res).cast("bigint") - F.col("h"))
                         * F.lit(1 << 56).cast("bigint")
                         + F.col("iy").cast("bigint")
                         * F.lit(1 << 28).cast("bigint")
                         + F.col("ix").cast("bigint")).alias("cell"))
                .dropDuplicates(["query_id", "cell"]))
        hs = sorted({int(row["h"]) for row in
                     stepped.select("h").distinct().collect()})
        # histogram-guided pruning (cell-level metadata only): keep, per
        # probe, the occupied cells NEAREST by great-circle lower bound
        # until their cumulative count reaches `target` — candidate volume
        # stays O(target) per probe no matter how far the search expanded.
        hist_all = hist_at(hs[0])
        for hv in hs[1:]:
            hist_all = hist_all.unionByName(hist_at(hv))
        def with_geom(df, h_col):
            deg = F.lit(deg_per_cell) * F.pow(F.lit(2.0),
                                              h_col.cast("double"))
            return (df
                    .withColumn("iy", F.shiftright("cell", 28)
                                .bitwiseAND(F.lit((1 << 28) - 1)))
                    .withColumn("ix", F.col("cell")
                                .bitwiseAND(F.lit((1 << 28) - 1)))
                    .withColumn("lat_n", 90.0 - F.col("iy") * deg)
                    .withColumn("lat_s", 90.0 - (F.col("iy") + 1) * deg)
                    .withColumn("lon_w", F.col("ix") * deg - 180.0)
                    .withColumn("lon_e", (F.col("ix") + 1) * deg - 180.0)
                    .withColumn("dmin", dmin_km()))

        occ = with_geom(ring.join(hist_all, "cell"), F.col("h"))
        probe_cols = ("q_lat", "q_lon", "ix0", "iy0", "h", "target")
        kept_c, theta_c = rank_and_keep(occ, probe_cols)
        # refine kept COARSE cells to their base-res occupied children (an
        # exact quad-tree parent join per distinct h — cell metadata only),
        # then re-rank at base res: without this a coarse city-sized cell
        # would drag its 10^4-10^5 points into the candidate join.
        base_parts = [kept_c.filter(F.col("h") == 0)]
        for hv in hs:
            if hv == 0:
                continue
            kc = (kept_c.filter(F.col("h") == hv)
                  .withColumnRenamed("cell", "pcell").drop("cnt"))
            child = hist0.withColumn(
                "pcell", _parent_cell_col(F.col("cell"), res, res - hv))
            base_parts.append(kc.join(child, "pcell").drop("pcell"))
        base_cells = base_parts[0]
        for p in base_parts[1:]:
            base_cells = base_cells.unionByName(p)
        base_occ = with_geom(base_cells, F.lit(0))
        kept_b, theta_b = rank_and_keep(base_occ, probe_cols)
        pts_keyed = pts.withColumn(
            "cell", grid_cell_col(F.col("p_lat"), F.col("p_lon"), res))
        cand = (kept_b.select("query_id", "q_lat", "q_lon", "cell")
                .join(pts_keyed, "cell"))
        dist = haversine_col(F.col("p_lat"), F.col("p_lon"),
                             F.col("q_lat"), F.col("q_lon"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist_km").asc(), *[F.col(c).asc() for c in id_cols])
        topk = (cand.withColumn("dist_km", dist)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "q_lat", "q_lon", *id_cols,
                        "dist_km", F.col("rank").cast("int").alias("rank"))
                .localCheckpoint(eager=True))
        stats = topk.groupBy("query_id").agg(
            F.count("*").alias("n_found"), F.max("dist_km").alias("kth"))
        # exactness: every point either sat in a searched cell, in a PRUNED
        # occupied cell (distance >= theta), or outside the enumerated box
        # (distance >= the box bound from the full base radius r); so
        # kth <= min(theta_c, theta_b, box) certifies the answer.
        #
        # Soundness of the box bound: any path from the probe (inside the
        # box) to an outside point first CROSSES the box boundary, so
        # d >= distance to the nearest open face.  North/south faces cost
        # at least the meridian arc to that latitude (exact — the probe's
        # lon is inside the face's span).  East/west faces are meridian
        # SEGMENTS at lon gap = the probe's distance to that edge; the
        # exact segment distance (_meridian_segment_dist) is sound and,
        # unlike the earlier gap*cos(worst_lat) arc, does not collapse to
        # 0 when the box touches a pole — there the segment reaches lat 90
        # and the bound degrades gracefully to the probe's colatitude (the
        # true over-pole crossing cost), so polar probes can resolve
        # WITHOUT first expanding to cover every longitude.  A face that
        # is not "open" (box reaches the pole / wraps all longitudes)
        # admits no crossing and contributes no bound.
        checked = (active.join(stats, "query_id", "left")
                   .join(theta_c.withColumnRenamed("theta", "theta_c"),
                         "query_id", "left")
                   .join(theta_b.withColumnRenamed("theta", "theta_b"),
                         "query_id", "left")
                   .withColumn("north_open", F.col("iy0") - r > 0)
                   .withColumn("south_open", F.col("iy0") + r < ny - 1)
                   .withColumn("lon_open", F.lit(2) * r + 1 < nx)
                   .withColumn("north_edge",
                               90.0 - (F.col("iy0") - r) * deg_per_cell)
                   .withColumn("south_edge",
                               90.0 - (F.col("iy0") + r + 1) * deg_per_cell)
                   .withColumn("west_edge",
                               (F.col("ix0") - r) * (360.0 / nx) - 180.0)
                   .withColumn("east_edge",
                               (F.col("ix0") + r + 1) * (360.0 / nx) - 180.0)
                   .withColumn("bound", F.least(
                       F.coalesce(F.col("theta_c"), F.lit(1e12)),
                       F.coalesce(F.col("theta_b"), F.lit(1e12)),
                       F.when(F.col("north_open"),
                              (F.col("north_edge") - F.col("q_lat")) * 111.195)
                       .otherwise(F.lit(1e12)),
                       F.when(F.col("south_open"),
                              (F.col("q_lat") - F.col("south_edge")) * 111.195)
                       .otherwise(F.lit(1e12)),
                       F.when(F.col("lon_open"), _meridian_segment_dist(
                           F.col("q_lat"),
                           F.least(F.col("q_lon") - F.col("west_edge"),
                                   F.col("east_edge") - F.col("q_lon")),
                           F.greatest(F.col("south_edge"), F.lit(-90.0)),
                           F.least(F.col("north_edge"), F.lit(90.0))))
                       .otherwise(F.lit(1e12))))
                   .withColumn("all_searched",
                               ~F.col("north_open") & ~F.col("south_open")
                               & ~F.col("lon_open")
                               & F.col("theta_c").isNull()
                               & F.col("theta_b").isNull())
                   .withColumn("resolved", F.col("all_searched") | (
                       (F.coalesce(F.col("n_found"), F.lit(0)) >= k)
                       & (F.col("kth") <= F.col("bound"))))
                   .localCheckpoint(eager=True))
        done_ids = checked.filter("resolved").select("query_id")
        out_parts.append(topk.join(done_ids, "query_id", "semi"))
        # unresolved probes: 4x the search radius when nothing was pruned
        # (the enumerated region lacks the data — race towards it), else 2x;
        # the candidate target doubles so the kept-cell disk can grow.
        grow = F.when(F.col("theta_c").isNull() & F.col("theta_b").isNull(),
                      F.lit(4)).otherwise(F.lit(2))
        active = (checked.filter(~F.col("resolved"))
                  .select("query_id", "q_lat", "q_lon", "ix0", "iy0",
                          (F.col("radius") * grow).alias("radius"),
                          (F.col("target") * 2).alias("target")))
        if verbose:
            import time as _t
            print(f"knn_join_table it={it} res={res} hs={hs} "
                  f"active_next={active.count()} t={_t.time():.1f}",
                  flush=True)
            (checked.filter(~F.col("resolved"))
             .select("query_id", "radius", "target", "n_found",
                     F.round("kth", 1).alias("kth"),
                     F.round("bound", 1).alias("bound"),
                     F.round("theta_c", 1).alias("th_c"),
                     F.round("theta_b", 1).alias("th_b"))
             .show(5, truncate=False))
        if active.isEmpty():
            break
    else:
        raise RuntimeError("knn_join_table did not converge; raise max_iters")
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out


def _box_sizes(probes_pdf: pd.DataFrame, k: int, res: int,
               cell_counts: dict[int, int], k_world: int) -> dict[int, int]:
    """Per-probe Chebyshev radius (in res-cells) from the per-cell histogram:
    expand in pandas (no Spark actions) until the disk holds >= 2k points."""
    out = {}
    for _, r in probes_pdf.iterrows():
        center = int(cells.grid_cell(np.array([r["lat"]]),
                                     np.array([r["lon"]]), res)[0])
        kc = 1
        while kc < k_world:
            total = sum(cell_counts.get(int(c), 0)
                        for c in cells.k_ring(center, kc))
            if total >= 2 * k:
                break
            kc *= 2
        out[int(r["query_id"])] = min(kc + 1, k_world)
    return out


def knn_join(points: DataFrame, probes_pdf: pd.DataFrame, k: int,
             res: int = DEFAULT_KNN_RES,
             lat_col: str = "lat", lon_col: str = "lon",
             id_cols: list[str] | None = None,
             max_iters: int = 8) -> DataFrame:
    """Exact k nearest ``points`` per probe (SURVEY.md §2.3 J2).

    ``probes_pdf``: pandas (query_id, lat, lon).  Returns (query_id, q_lat,
    q_lon, point id cols, dist_km, rank), deterministic tie-break on
    (dist, id_cols).

    Physical shape: ONE per-cell histogram aggregation sizes a lat/lon
    search box per probe driver-side; candidates come from a broadcast
    range-box join (pure codegen predicates — for small probe sets this
    beats enumerating candidate cells, whose ring tables explode for probes
    in sparse regions); then haversine + windowed top-k.  Exactness is
    certified per probe by the geometric bound (kth distance <= distance
    from probe to the nearest box edge); only failing probes re-expand.
    """
    spark = points.sparkSession
    id_cols = id_cols or ["url"]
    pts = points.select(lat_col, lon_col, *id_cols)
    nx, ny = cells.grid_dims(res)
    k_world = max(nx // 2 + 1, ny)
    deg_per_cell = 180.0 / ny

    hist = (pts.groupBy(grid_cell_col(F.col(lat_col), F.col(lon_col), res)
                        .alias("c")).count().collect())
    cell_counts = {int(r["c"]): int(r["count"]) for r in hist}
    radius = _box_sizes(probes_pdf, k, res, cell_counts, k_world)

    out_frames: list[pd.DataFrame] = []
    unresolved = set(int(q) for q in probes_pdf["query_id"])

    for _ in range(max_iters):
        sub = probes_pdf[probes_pdf["query_id"].isin(unresolved)].copy()
        sub["q_lat"] = sub["lat"]
        sub["q_lon"] = sub["lon"]
        sub["dlat"] = [min(radius[int(q)] * deg_per_cell, 180.0)
                       for q in sub["query_id"]]
        sub["dlon"] = [
            min(r * deg_per_cell / max(np.cos(np.radians(
                min(abs(la) + r * deg_per_cell, 89.9))), 1e-6), 180.0)
            for q, la, r in zip(sub["query_id"], sub["lat"],
                                (radius[int(q)] for q in sub["query_id"]))]
        # Latitude-band equi-key: the pure range-box condition makes this
        # a BroadcastNestedLoopJoin — |points| x |probes| predicate
        # evaluations (4e9 at the bench size).  Each probe box covers a
        # contiguous run of fixed 5-degree latitude bands (exploded
        # driver-side, ~1-3 rows per probe), each point maps to one band,
        # and a point inside the lat box is necessarily inside a covered
        # band (floor is monotone) — so joining on the band first with
        # the box predicates as residual filter yields the IDENTICAL
        # candidate set from a BroadcastHashJoin that only evaluates the
        # box predicates for same-band pairs (r6: knn 2.6 s -> measured
        # below).
        n_bands = 36
        band_w = 180.0 / n_bands
        expl = []
        for _, pr in sub.iterrows():
            b_lo = int(np.clip(np.floor((pr["q_lat"] - pr["dlat"] + 90.0)
                                        / band_w), 0, n_bands - 1))
            b_hi = int(np.clip(np.floor((pr["q_lat"] + pr["dlat"] + 90.0)
                                        / band_w), 0, n_bands - 1))
            for b in range(b_lo, b_hi + 1):
                expl.append((int(pr["query_id"]), float(pr["q_lat"]),
                             float(pr["q_lon"]), float(pr["dlat"]),
                             float(pr["dlon"]), b))
        cand = F.broadcast(spark.createDataFrame(
            pd.DataFrame(expl, columns=["query_id", "q_lat", "q_lon",
                                        "dlat", "dlon", "_band"])))
        lat, lon = F.col(lat_col), F.col(lon_col)
        dlon_wrap = F.least(F.abs(lon - F.col("q_lon")),
                            F.lit(360.0) - F.abs(lon - F.col("q_lon")))
        pts_b = pts.withColumn(
            "_pband", F.least(F.greatest(F.floor(
                (lat + F.lit(90.0)) / F.lit(band_w)), F.lit(0)),
                F.lit(n_bands - 1)).cast("int"))
        joined = (pts_b.join(
            cand,
            (F.col("_pband") == F.col("_band"))
            & (lat >= F.col("q_lat") - F.col("dlat"))
            & (lat <= F.col("q_lat") + F.col("dlat"))
            & (dlon_wrap <= F.col("dlon")), "inner")
            .drop("_pband", "_band"))
        dist = haversine_col(lat, lon, F.col("q_lat"), F.col("q_lon"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist_km").asc(), *[F.col(c).asc() for c in id_cols])
        topk_pdf = (joined.withColumn("dist_km", dist)
                    .withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k)
                    .toPandas())  # <= |probes| * k rows — tiny
        done = set()
        for _, pr in sub.iterrows():
            qid = int(pr["query_id"])
            mine = topk_pdf[topk_pdf["query_id"] == qid]
            kth = float(mine["dist_km"].max()) if len(mine) >= k else float("inf")
            # distance from probe to nearest box edge (km)
            lat_edge_km = pr["dlat"] * 111.195
            worst_lat = min(abs(pr["lat"]) + pr["dlat"], 90.0)
            lon_edge_km = (pr["dlon"] * 111.195
                           * max(np.cos(np.radians(worst_lat)), 0.0))
            bound = min(lat_edge_km, lon_edge_km)
            covers_world = pr["dlat"] >= 180.0 and pr["dlon"] >= 180.0
            if kth <= bound or covers_world:
                done.add(qid)
                out_frames.append(mine)
            else:
                radius[qid] = min(radius[qid] * 2, 4 * k_world)
        unresolved -= done
        if not unresolved:
            break
    if unresolved:
        raise RuntimeError(f"kNN did not converge for probes {sorted(unresolved)}")
    result = pd.concat(out_frames, ignore_index=True)
    return spark.createDataFrame(result)


# ---------------------------------------------------------------------------
# Radius (within-distance) join
# ---------------------------------------------------------------------------


def radius_join(points: DataFrame, probes: DataFrame, radius_km: float,
                res: int | None = None,
                lat_col: str = "lat", lon_col: str = "lon",
                id_cols: list[str] | None = None,
                max_cover: int = 256) -> DataFrame:
    """Exact within-distance spatial join (distance-band join, SURVEY.md
    §2.3 family; reference nearest-select analogue datastore.py:444-455
    generalized from 1-NN to "all points within R").

    For every probe row, returns every point whose great-circle distance is
    <= ``radius_km``.  Shape at scale:

    1. a vectorized Arrow-batched cover UDF maps each probe to the cell ids
       of a SOUND disc cover (:func:`geolake_spark.cells.radius_cover` —
       haversine-identity lon bound, pole-safe, antimeridian-safe, coarsened
       to quad parents so the per-probe cover is <= ``max_cover`` cells);
    2. covers explode and equi-join the points' cell column — ONE shuffle
       hash join per cover resolution actually present (in practice one:
       coarsened tiers only appear for near-pole probes).  AQE skew-join
       splits hot urban cells; no per-probe driver work anywhere;
    3. exact ``haversine <= R`` refine, fully inside whole-stage codegen.

    A point lands in exactly one cell per res and a probe's cover is a
    distinct cell set at one res, so (probe, point) pairs are emitted at
    most once — no distinct needed.  ``res=None`` picks the finest res whose
    cell height >= R (:func:`geolake_spark.cells.radius_res`), giving ~9-15
    cover cells per probe and a candidate area ~9 R^2 vs the disc's pi R^2.

    ``probes``: (query_id, lat, lon).  Returns (query_id, q_lat, q_lon,
    *id_cols, dist_km).
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    id_cols = id_cols or ["url"]
    base_res = cells.radius_res(radius_km) if res is None else int(res)

    @pandas_udf(T.ArrayType(T.LongType()))
    def cover_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series([
            cells.radius_cover(float(la), float(lo), radius_km, base_res,
                               max_cover=max_cover)
            for la, lo in zip(lat.to_numpy(), lon.to_numpy())])

    cov = (probes.select("query_id",
                         F.col(lat_col).alias("q_lat"),
                         F.col(lon_col).alias("q_lon"))
           .withColumn("cell", F.explode(
               cover_udf(F.col("q_lat"), F.col("q_lon"))))
           .localCheckpoint(eager=True))  # reused by the res-tier scan below

    # Cover resolutions actually present: driver-sized (<= GRID_MAX_RES+1).
    res_vals = sorted(r["r"] for r in
                      cov.select(F.shiftright("cell", 56).alias("r"))
                      .distinct().collect())
    pts = points.select(F.col(lat_col).alias("p_lat"),
                        F.col(lon_col).alias("p_lon"), *id_cols)
    cand = None
    for rv in res_vals:
        tier = (cov.filter(F.shiftright("cell", 56) == int(rv))
                .join(pts.withColumn("cell", grid_cell_col(
                    F.col("p_lat"), F.col("p_lon"), int(rv))), "cell"))
        cand = tier if cand is None else cand.unionByName(tier)
    if cand is None:  # empty probe table
        return (cov.select("query_id", "q_lat", "q_lon")
                .join(pts, F.lit(False))
                .withColumn("dist_km", F.lit(0.0))
                .select("query_id", "q_lat", "q_lon", *id_cols, "dist_km"))
    return (cand
            .withColumn("dist_km", haversine_col(
                F.col("q_lat"), F.col("q_lon"),
                F.col("p_lat"), F.col("p_lon")))
            .filter(F.col("dist_km") <= F.lit(float(radius_km)))
            .select("query_id", "q_lat", "q_lon", *id_cols, "dist_km"))
