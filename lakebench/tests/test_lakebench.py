"""The benchmark's own tests: arithmetic, oracles on hand-computed cases,
seeded inputs, and the metric names each workload declares.

    python3 -m pytest lakebench/tests -q

No Spark session is started here.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from lakebench import common, inputs, oracles  # noqa: E402
from lakebench import geo_requests, lake_ingest, pip_tiles  # noqa: E402
from lakebench.tracing import parse_metric, self_times  # noqa: E402

WORKLOADS = {"pip_tiles": pip_tiles, "geo_requests": geo_requests,
             "lake_ingest": lake_ingest}


# ---------------------------------------------------------------- arithmetic


def test_quantile_interpolates_linearly():
    assert common.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert common.quantile(list(range(11)), 0.9) == 9.0
    assert common.quantile([5.0], 0.9) == 5.0
    assert common.quantile([3, 1, 2], 0.0) == 1
    assert common.quantile([3, 1, 2], 1.0) == 3
    v = [0.3, 1.7, 2.2, 9.1, 4.4, 5.0, 0.9]
    assert common.quantile(v, 0.25) == pytest.approx(
        statistics.quantiles(v, n=4, method="inclusive")[0])


def test_quantile_of_nothing_raises():
    with pytest.raises(ValueError):
        common.quantile([], 0.5)


def test_union_length_merges_overlaps():
    assert common.union_length([]) == 0.0
    assert common.union_length([(0, 1), (2, 3)]) == 2.0
    assert common.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_covered_child_time():
    spans = [_span("job", 0.0, 10.0),
             _span("plan", 1.0, 3.0, parent=0),
             _span("write", 2.0, 5.0, parent=0),     # overlaps plan
             _span("commit", 4.0, 4.5, parent=2),
             _span("late", 9.0, 12.0, parent=0)]      # clipped to the parent
    st = self_times(spans)
    assert st["job"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["plan"] == pytest.approx(2.0)
    assert st["write"] == pytest.approx(3.0 - 0.5)
    assert st["commit"] == pytest.approx(0.5)
    assert st["late"] == pytest.approx(3.0)


def test_self_time_skips_open_spans_and_sums_by_name():
    spans = [_span("a", 0.0, 1.0), _span("a", 2.0, 2.5), _span("b", 3.0, None)]
    assert self_times(spans) == {"a": pytest.approx(1.5)}


def test_parse_metric_forms():
    assert parse_metric("1,234") == 1234.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1.5 s (0.1 s, 0.5 s, 0.9 s (stage 1.0: task 3))") == 1.5
    assert parse_metric("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)") == 0.25
    assert parse_metric("total (min, med, max)\n2.0 MiB (1 B, 2 B, 3 B)") == 2 * 2 ** 20
    assert parse_metric("(min, med, max)\n1.0 (1.0, 1.0, 1.0)") == 1.0
    assert parse_metric("") is None


def test_result_line_rejects_missing_zero_and_nan():
    ok = common.result_line(True, 3, 0, {"op_p50_s": (1.25, "s")})
    d = json.loads(ok)
    assert d == {"correct": True, "attempted": 3, "failed": 0,
                 "metrics": {"op_p50_s": {"value": 1.25, "unit": "s"}}}
    for bad in (0.0, -0.5, float("nan"), float("inf"), None):
        with pytest.raises(RuntimeError):
            common.result_line(True, 1, 0, {"x": (bad, "s")})
    # only the named counters may be zero, and only named differences negative
    common.result_line(True, 1, 0, {"spark.failed_tasks": (0.0, "count")})
    for name in ("jvm.heap_after_gc_mb", "tiles.out_rows", "sinks.write_s"):
        with pytest.raises(RuntimeError):
            common.result_line(True, 1, 0, {name: (0.0, "s")})
    common.result_line(True, 1, 0, {"trace.overhead_op_p50_s": (-0.01, "s")},
                       signed={"trace.overhead_op_p50_s"})
    with pytest.raises(RuntimeError):
        common.result_line(True, 1, 0, {"trace.overhead_op_p50_s": (float("nan"), "s")},
                           signed={"trace.overhead_op_p50_s"})
    # the detail line is checked the same way
    with pytest.raises(RuntimeError):
        common.metrics_json({"sinks.write_s": (0.0, "s")})


def test_split_keeps_the_result_names_in_order():
    m = {"b": (2.0, "s"), "x": (9.0, "s"), "a": (1.0, "s")}
    shared, detail = common.split(m, {"a": "s", "b": "s", "c": "s"})
    assert list(shared) == ["a", "b"] and detail == {"x": (9.0, "s")}


def test_nonpositive_flags_differenced_timings():
    m = {"geo.cells_s": 0.05, "joins.run_s": -0.01, "tiles.rollup_s": 0.0}
    assert common.nonpositive(m, m) == ["joins.run_s", "tiles.rollup_s"]
    assert common.nonpositive(m, ["geo.cells_s"]) == []


# ---------------------------------------------------------------- oracles

SQUARE = [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]]
HOLED = SQUARE + [[[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]]]
# a "C": the notch x in (3, 10), y in (3, 7) is outside
C_SHAPE = [[[0, 0], [10, 0], [10, 3], [3, 3], [3, 7], [10, 7], [10, 10],
            [0, 10], [0, 0]]]


def pip(lat, lon, rings):
    return oracles.points_in_polygon(np.asarray(lat, float),
                                     np.asarray(lon, float), rings).tolist()


def test_ray_cast_square_hole_and_concave():
    assert pip([5, 5, 11], [5, -1, 5], SQUARE) == [True, False, False]
    assert pip([5, 2], [5, 2], HOLED) == [False, True]
    assert pip([5, 5, 1], [5, 1, 5], C_SHAPE) == [False, True, True]


def test_ray_cast_antimeridian_frame():
    box = [[[175, -5], [185, -5], [185, 5], [175, 5], [175, -5]]]
    assert pip([0, 0, 0, 0], [178, -178, 170, -170], box) == \
        [True, True, False, False]


def test_banded_ray_cast_equals_plain_edge_loop():
    rng = np.random.default_rng(7)
    polys = inputs.make_polygons(3)
    for p in [polys[0], polys[85], polys[170]]:   # convex, concave, holes
        shell = np.asarray(p["rings"][0])
        lon = rng.uniform(shell[:, 0].min() - 0.1, shell[:, 0].max() + 0.1, 3000)
        lat = rng.uniform(shell[:, 1].min() - 0.1, shell[:, 1].max() + 0.1, 3000)
        want = np.zeros(len(lat), dtype=bool)
        for ring in p["rings"]:
            r = np.asarray(ring, dtype=float)
            for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
                if y1 == y2:
                    continue
                cross = (y1 > lat) != (y2 > lat)
                want ^= cross & (lon < x1 + ((lat - y1) * (x2 - x1)) / (y2 - y1))
        assert oracles.points_in_polygon(lat, lon, p["rings"]).tolist() == want.tolist()
        assert 0 < want.sum() < len(want)


def test_tile_xy_known_tiles():
    x, y = oracles.tile_xy(np.array([0.0, 51.51, -33.87]),
                           np.array([0.0, -0.13, 151.21]), 8)
    assert x.tolist() == [128, 127, 235]
    assert y.tolist() == [128, 85, 153]
    x, y = oracles.tile_xy(np.array([89.9, -89.9]), np.array([180.0, -180.0]), 3)
    assert x.tolist() == [7, 0] and y.tolist() == [0, 7]


def test_pip_tile_counts_hand_case():
    lat = np.array([5.0, 5.0, 5.0, 20.0, 1.0])
    lon = np.array([5.0, 5.0, 9.9, 5.0, 1.0])
    polys = [{"polygon_id": 7, "rings": SQUARE},
             {"polygon_id": 9, "rings": HOLED}]
    pid, tx, ty, cnt = oracles.pip_tile_counts(lat, lon, polys, zoom=1)
    # every inside point is in tile (1, 0) at z1; the hole drops 2 points
    assert list(zip(pid, tx, ty, cnt)) == [(7, 1, 0, 4), (9, 1, 0, 2)]


def test_haversine_and_knn():
    assert oracles.haversine_km(0.0, 0.0, 0.0, 1.0) == pytest.approx(111.19493, abs=1e-4)
    assert oracles.haversine_km(0.0, 179.5, 0.0, -179.5) == pytest.approx(111.19493, abs=1e-4)
    lat = np.array([0.0, 0.0, 0.0, 10.0, 0.0])
    lon = np.array([1.0, 2.0, -1.0, 0.0, 0.5])
    ids = np.array(["a", "b", "c", "d", "e"])
    got, d = oracles.knn(lat, lon, ids, 0.0, 0.0, 3)
    assert got.tolist() == ["e", "a", "c"]        # a/c tie broken by id
    assert d[1] == pytest.approx(d[2])


def test_masks():
    lat = np.array([0.0, 1.0, 1.0, 5.0])
    lon = np.array([179.5, -179.5, 0.0, 179.9])
    assert oracles.bbox_mask(lat, lon, -1, 2, 179.0, -179.0).tolist() == \
        [True, True, False, False]
    assert oracles.bbox_mask(lat, lon, 0, 1, -1, 1).tolist() == \
        [False, False, True, False]
    ts = np.array(["2024-03-01T00:00", "2024-03-02T00:00", "2024-03-03T00:00"],
                  dtype="datetime64[us]")
    assert oracles.time_mask(ts, "2024-03-01T00:00", "2024-03-02T00:00").tolist() == \
        [True, True, False]
    assert oracles.lang_mask(np.array(["en", "de", "fr"]), ["de", "fr"]).tolist() == \
        [False, True, True]


def test_tile_counts_keys():
    got = oracles.tile_counts(np.array([0.0, 0.0, 60.0]), np.array([0.0, 0.1, 0.0]), 1)
    assert got == {(1, 1, 1): 2, (1, 1, 0): 1}


def test_table_state_append_merge_where():
    st = oracles.TableState("url")
    st.append(pd.DataFrame({"url": ["a", "b", "c"], "lat": [1.0, 2.0, 3.0]}))
    st.merge(pd.DataFrame({"url": ["b", "d"], "lat": [2.5, 4.0]}), ["c"])
    assert sorted(st.df.url) == ["a", "b", "d"]
    assert st.df.set_index("url").lat.to_dict() == {"a": 1.0, "b": 2.5, "d": 4.0}
    assert sorted(st.where("lat", 2.0, 4.0).url) == ["b", "d"]
    got = pd.DataFrame({"url": ["d", "b"], "lat": [4.0, 2.5]})
    assert oracles.same_rows(got, st.where("lat", 2.0, 4.0), ["url", "lat"], "url")
    got.loc[0, "lat"] = 4.5
    assert not oracles.same_rows(got, st.where("lat", 2.0, 4.0), ["url", "lat"], "url")


def test_coarse_cell_matches_grid_layout():
    got = lake_ingest.coarse_cell(np.array([89.0, -89.0, 10.0]),
                                  np.array([-179.0, 179.0, 10.0]))
    assert got.tolist() == [0, (3 << 28) + 7, (1 << 28) + 4]


# ---------------------------------------------------------------- inputs


def test_seeded_inputs_repeat_and_keep_the_work_fixed():
    a, b, c = inputs.make_polygons(1), inputs.make_polygons(1), inputs.make_polygons(2)
    assert a == b and a != c
    assert len(a) == len(c) == len(inputs.POLYGON_SLOTS)
    nv = [sum(len(r) for r in p["rings"]) for p in a]
    assert nv == [sum(len(r) for r in p["rings"]) for p in c]
    assert {p["kind"] for p in a} == {"convex", "concave", "holes", "antimeridian"}
    anti = [p for p in a if p["kind"] == "antimeridian"][0]
    assert max(x for x, _ in anti["rings"][0]) > 180.0
    assert all(len(p["rings"]) == 2 for p in a if p["kind"] == "holes")
    rng1, rng2 = inputs._rng(5, 1), inputs._rng(5, 1)
    assert np.array_equal(inputs.draw_points(rng1, 1000)[0],
                          inputs.draw_points(rng2, 1000)[0])


def test_backlog_reports_queue_wait_and_peak_in_flight():
    recs = [{"due": 0.0, "start": 0.0, "end": 1.5},
            {"due": 1.0, "start": 1.25, "end": 2.0},   # overlaps the first
            {"due": 3.0, "start": 3.0, "end": 3.5}]
    assert geo_requests.backlog(recs) == {"bench.backlog_p50_s": 0.0,
                                          "bench.peak_in_flight": 2}


def test_closed_throughput_counts_busy_client_time():
    # three clients, 2 s each of back-to-back requests; one ran 1 s longer
    recs = [{"start": 0.0, "end": 1.0}, {"start": 1.0, "end": 2.0},
            {"start": 0.0, "end": 2.0}, {"start": 0.0, "end": 0.5},
            {"start": 0.5, "end": 3.0}]
    assert geo_requests.closed_throughput(recs, 5) == pytest.approx(
        5 * geo_requests.CLOSED_CLIENTS / 7.0)
    assert geo_requests.closed_throughput(recs, 4) == pytest.approx(
        4 * geo_requests.CLOSED_CLIENTS / 7.0)


def test_request_mix_is_one_to_one_to_one():
    table = pd.DataFrame({"lat": [10.0, 20.0], "lon": [1.0, 2.0],
                          "lang": ["en", "de"]})
    stream = geo_requests.RequestStream(1, table)
    kinds = [stream.next()["kind"] for _ in range(9)]
    assert {k: kinds.count(k) for k in geo_requests.KINDS} == {
        "area": 3, "knn": 3, "tiles": 3}


def test_recrawl_picks_disjoint_rows():
    up, gone = inputs.recrawl(4, 2, 5000)
    assert len(up) == inputs.INGEST_RECRAWL_ROWS
    assert len(gone) == inputs.INGEST_DELETE_ROWS
    assert not set(up.tolist()) & set(gone.tolist())


# ---------------------------------------------------------------- metric names


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_result_line_names_are_the_manifest_for_every_listed_workload():
    """The result line must hold every metric BENCHMARK.json lists, under
    the same name and unit, whichever listed workload runs."""
    bench = _benchmark()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == common.RESULT_END_TO_END
    assert layer == common.RESULT_PER_LAYER
    for w in bench["workloads"]:
        mod = WORKLOADS[w["name"]]
        assert e2e.items() <= mod.END_TO_END.items(), w["name"]
        assert layer.items() <= mod.PER_LAYER.items(), w["name"]
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])


def test_declared_metric_sets_per_workload():
    assert set(pip_tiles.END_TO_END) == {"setup_s", "nonheap_rss_mb",
                                         "ops_per_s", "op_p50_s", "rows_per_s"}
    assert set(geo_requests.END_TO_END) == {
        "setup_s", "nonheap_rss_mb", "ops_per_s", "op_p50_s",
        "latency_p90_s", "area_p50_s", "knn_p50_s", "tiles_p50_s"}
    assert set(lake_ingest.END_TO_END) == {
        "setup_s", "nonheap_rss_mb", "ops_per_s", "op_p50_s", "rows_per_s",
        "append_p50_s", "merge_p50_s", "read_p50_s", "stored_bytes_per_row"}
    # lake_ingest is not listed: it has no join layer to report
    assert set(common.RESULT_PER_LAYER) - set(lake_ingest.PER_LAYER) == {
        "joins.plan_s", "joins.run_s", "sinks.bytes_out_per_row"}
    for mod in WORKLOADS.values():
        assert "trace.overhead_op_p50_s" in mod.PER_LAYER


def test_finish_emits_exactly_the_declared_names():
    for mod in WORKLOADS.values():
        for units in (mod.END_TO_END, mod.PER_LAYER):
            res = common.finish(4, 1, {k: 1.0 for k in units}, units)
            assert res["correct"] is False and res["attempted"] == 4
            assert {k: u for k, (_, u) in res["metrics"].items()} == units
            with pytest.raises(RuntimeError):
                common.finish(4, 0, dict({k: 1.0 for k in units}, extra=1.0), units)
            with pytest.raises(RuntimeError):
                common.finish(4, 0, {k: 1.0 for k in list(units)[1:]}, units)
