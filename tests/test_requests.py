"""Request/job state machine + format sinks + file-driven catalog.

Mirrors the reference lifecycle (dbmanager.py:42-49,102-132;
api/app/main.py:214-357): submit -> PENDING/RUNNING -> DONE (download) /
FAILED (reason) / TIMEOUT (job-group cancel), persisted across manager
restarts."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from geolake_spark.api import Catalog, Dataset, Product
from geolake_spark.requests import RequestManager, RequestStatus
from geolake_spark.sinks import write_result


@pytest.fixture()
def catalog(spark, synth_paths, tmp_path):
    cat = Catalog(spark, store_dir=str(tmp_path / "store"))
    ds = Dataset("web", description="crawl tables")
    ds.products["pages"] = Product(
        "pages", lambda s: s.read.parquet(synth_paths["pages"]))
    cat.register(ds)
    return cat


def test_request_lifecycle_done(catalog, spark):
    rid = catalog.submit_execute("web", "pages",
                                 {"filters": {"lang": "en"}})
    status = catalog.requests.wait(rid, timeout_s=120)
    assert status == RequestStatus.DONE.value
    path = catalog.download(rid, as_zip=False)
    out = spark.read.parquet(path)
    assert out.count() > 0
    assert set(out.select("lang").distinct().toPandas()["lang"]) == {"en"}
    req = catalog.requests.get_request(rid)
    assert req.size_bytes and req.size_bytes > 0
    assert req.estimate_size_bytes and req.estimate_size_bytes > 0
    # request listing by user, with human-formatted sizes in the rows
    # (round-3: mirrors the reference's request rows carrying the
    # pre-run estimate and final size)
    rows = catalog.get_requests()
    assert [r.request_id for r in rows] == [rid]
    assert rows[0].estimate_human and rows[0].estimate_human.split()[1] in (
        "bytes", "KB", "MB", "GB")
    assert rows[0].size_human and float(rows[0].size_human.split()[0]) > 0


def test_download_as_zip_single_artifact(catalog, spark, tmp_path):
    """A multi-partition result downloads as ONE zip artifact whose members
    reproduce the directory (reference executor zips >1-file results,
    executor/app/main.py:127-195)."""
    import zipfile
    rid = catalog.submit_execute("web", "pages", {})
    assert catalog.requests.wait(rid, timeout_s=120) == RequestStatus.DONE.value
    dirpath = catalog.download(rid, as_zip=False)
    zpath = catalog.download(rid, as_zip=True)
    assert zpath.endswith(f"request-{rid}.zip") and os.path.exists(zpath)
    with zipfile.ZipFile(zpath) as z:
        names = z.namelist()
        assert len([n for n in names if n.endswith(".parquet")]) >= 1
        extract_dir = tmp_path / "unzipped"
        z.extractall(extract_dir)
    disk_files = sorted(os.path.relpath(os.path.join(dp, fn), dirpath)
                        for dp, _, fns in os.walk(dirpath) for fn in fns)
    assert sorted(names) == disk_files
    assert (spark.read.parquet(str(extract_dir)).count()
            == spark.read.parquet(dirpath).count())
    # cached: second call reuses the artifact
    assert catalog.download(rid, as_zip=True) == zpath


def test_download_auto_zip_default(catalog, spark, tmp_path):
    """Round 4: the DEFAULT download mirrors the reference exactly — a
    multi-data-file result auto-zips, a single-file result stays bare
    (executor/app/main.py:186-195 zips iff len(paths) > 1)."""
    import os

    rid = catalog.submit_execute("web", "pages", {})
    assert catalog.requests.wait(rid, timeout_s=120) == RequestStatus.DONE.value
    dirpath = catalog.download(rid, as_zip=False)
    n_data = len([fn for dp, _, fns in os.walk(dirpath) for fn in fns
                  if fn != "_SUCCESS" and not fn.startswith(".")])
    got = catalog.download(rid)
    if n_data > 1:
        assert got.endswith(".zip") and os.path.exists(got)
    else:
        assert got == dirpath

    # force a single-file result via coalesce(1): stays bare by default
    def plan():
        return spark.range(5).coalesce(1)
    rid2 = catalog.requests.submit(plan, "web", "pages")
    assert catalog.requests.wait(rid2, timeout_s=120) == RequestStatus.DONE.value
    bare = catalog.download(rid2)
    assert not bare.endswith(".zip")
    assert spark.read.parquet(bare).count() == 5


def test_request_worker_thread_exits_clean(catalog, spark):
    """PySpark 4 removed SparkContext.clearJobGroup; until round 4 every
    request worker thread died with AttributeError in its finally block
    (the state machine survived, masking it).  Assert that no worker raises,
    also past a failing plan, and that the next request is still served."""
    import threading

    seen = []
    orig = threading.excepthook
    threading.excepthook = lambda a: seen.append(a)
    try:
        rm = catalog.requests
        rid = catalog.submit_execute("web", "pages", {"filters": {"lang": "en"}})
        assert rm.wait(rid, timeout_s=120) == RequestStatus.DONE.value
        bad = rm.submit(lambda: 1 / 0, "web", "pages")
        assert rm.wait(bad, timeout_s=60) == RequestStatus.FAILED.value
        nxt = rm.submit(lambda: spark.range(3), "web", "pages")
        assert rm.wait(nxt, timeout_s=60) == RequestStatus.DONE.value
    finally:
        threading.excepthook = orig
    assert not seen, f"request worker raised: {seen}"


def test_request_workers_bounded(catalog, spark):
    """4 x N requests submitted at once all finish with unique ids on at
    most N = defaultParallelism live ``geolake-req-*`` workers, and an
    idle manager keeps no worker alive."""
    import threading

    def workers():
        return sum(t.name.startswith("geolake-req-")
                   for t in threading.enumerate())

    n = spark.sparkContext.defaultParallelism
    live = []

    def plan():
        live.append(workers())
        return spark.range(10)

    rm = catalog.requests
    rids = [rm.submit(plan, "web", "pages") for _ in range(4 * n)]
    assert len(set(rids)) == 4 * n
    assert all(rm.wait(r, timeout_s=300) == RequestStatus.DONE.value
               for r in rids)
    assert len(live) == 4 * n and max(live) <= n, live
    deadline = time.monotonic() + 30
    while workers() and time.monotonic() < deadline:
        time.sleep(0.05)
    assert workers() == 0


def test_catalog_requests_one_manager_under_concurrency(spark, tmp_path):
    """Concurrent first readers of ``Catalog.requests`` share one manager
    (two managers would hand out clashing request ids)."""
    import threading

    cat = Catalog(spark, store_dir=str(tmp_path / "store"))
    barrier = threading.Barrier(8)
    got = []

    def read():
        barrier.wait(timeout=30)
        got.append(cat.requests)

    threads = [threading.Thread(target=read) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert len(got) == 8 and all(m is got[0] for m in got)


def test_request_leaves_corpus_modules_unloaded(catalog, monkeypatch):
    """The geo control plane does not load the corpus stack: a finished
    request leaves ``operators.dedup`` unimported, and importing the API
    and the geo functions (running the h3 cell UDF body too) loads none
    of the corpus modules."""
    import subprocess
    import sys

    monkeypatch.delitem(sys.modules, "geolake_spark.operators.dedup",
                        raising=False)
    rid = catalog.submit_execute("web", "pages", {"filters": {"lang": "en"}})
    assert catalog.requests.wait(rid, timeout_s=120) == RequestStatus.DONE.value
    assert "geolake_spark.operators.dedup" not in sys.modules
    corpus = ["geolake_spark.operators.dedup", "geolake_spark.functions.sim",
              "geolake_spark.functions.text", "geolake_spark.pipeline"]
    code = ("import sys\n"
            "import pandas as pd\n"
            "import geolake_spark.api\n"
            "from geolake_spark.functions import geo\n"
            "geo.h3_cells_udf.func(pd.Series([45.0]), pd.Series([7.0]))\n"
            f"print([m for m in {corpus!r} if m in sys.modules])\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, check=True,
                         capture_output=True, text=True, timeout=120)
    assert out.stdout.strip() == "[]", out.stdout + out.stderr


def test_request_failure_reason(catalog):
    rid = catalog.requests.submit(
        lambda: (_ for _ in ()).throw(RuntimeError("boom")),
        "web", "pages")
    status = catalog.requests.wait(rid, timeout_s=60)
    assert status == RequestStatus.FAILED.value
    _, reason = catalog.get_request_status(rid)
    assert "boom" in reason or "TypeError" in reason
    with pytest.raises(FileNotFoundError):
        catalog.download(rid)


def test_request_timeout_cancels_job_group(catalog, spark, synth_paths):
    """A deliberately slow plan (sleepy pandas UDF) must land in TIMEOUT via
    Spark job-group cancellation, not run to completion."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def slow(v: pd.Series) -> pd.Series:
        time.sleep(30)
        return v

    def plan():
        df = spark.read.parquet(synth_paths["pages"])
        return df.select(slow(F.col("lat")).alias("x"))

    rid = catalog.requests.submit(plan, "web", "pages", timeout_s=2.0)
    status = catalog.requests.wait(rid, timeout_s=90)
    assert status == RequestStatus.TIMEOUT.value


def test_request_store_survives_restart(catalog, spark):
    """The store is an append-only log, one full record per transition; a
    restart folds it (last record per id wins), skips a torn final line,
    fails orphaned in-flight work and compacts the file once."""
    rid = catalog.submit_execute("web", "pages", {"filters": {"lang": "en"}})
    catalog.requests.wait(rid, timeout_s=120)
    store = os.path.join(catalog.requests.store_dir, "requests.jsonl")
    with open(store) as f:
        log = [json.loads(line) for line in f]
    assert [r["status"] for r in log] == ["PENDING", "RUNNING", "DONE"]
    orphan = dict(log[1], request_id=rid + 1)  # a RUNNING record
    with open(store, "a") as f:
        f.write(json.dumps(orphan) + "\n")
        f.write(json.dumps(dict(log[0], request_id=rid + 2))[:40])  # torn
    reloaded = RequestManager(spark, catalog.requests.store_dir)
    assert reloaded.get_request_status(rid)[0] == RequestStatus.DONE.value
    assert os.path.exists(reloaded.download(rid))
    assert reloaded.get_request_status(rid + 1) == (
        RequestStatus.FAILED.value, "driver restarted mid-request")
    assert [r.request_id for r in reloaded.get_requests()] == [rid, rid + 1]
    with open(store) as f:
        assert [json.loads(line)["request_id"] for line in f] == [rid, rid + 1]


def test_format_sinks(catalog, spark, tmp_path):
    """GeoQuery.format routes the result sink (geoquery.py:17;
    executor/app/main.py:115-121): parquet | json | geojson."""
    rid = catalog.submit_execute(
        "web", "pages", {"filters": {"lang": "de"}, "format": "json"})
    assert catalog.requests.wait(rid, timeout_s=120) == "DONE"
    rows = spark.read.json(catalog.download(rid, as_zip=False))
    assert rows.count() > 0

    rid2 = catalog.submit_execute(
        "web", "pages", {"filters": {"lang": "de"}, "format": "geojson"})
    assert catalog.requests.wait(rid2, timeout_s=120) == "DONE"
    feats = [json.loads(r["value"]) for r in
             spark.read.text(catalog.download(rid2, as_zip=False)).collect()]
    assert feats and all(f["type"] == "Feature" and
                         f["geometry"]["type"] == "Point" for f in feats)

    with pytest.raises(ValueError, match="format"):
        write_result(spark.range(1), str(tmp_path / "x"), "netcdf")


def test_warm_cache_preopens_products(spark, synth_paths):
    """Startup metadata warm-up (reference on_startup.py:9-15 +
    catalog/cache.py:15-22): after warm_cache, metadata reads never re-open
    the product."""
    calls = {"n": 0}

    def loader(s):
        calls["n"] += 1
        return s.read.parquet(synth_paths["pages"])

    cat = Catalog(spark)
    ds = Dataset("web")
    ds.products["pages"] = Product("pages", loader)
    cat.register(ds)
    assert cat.warm_cache() == [("web", "pages")]
    assert calls["n"] == 1
    meta = cat.product_metadata("web", "pages")
    assert calls["n"] == 1  # cache hit — loader not re-invoked
    assert ("url", "string") in meta["schema"]


def test_catalog_from_yaml(spark, synth_paths, tmp_path):
    """File-driven catalog with roles, templated paths and per-product size
    limits (reference catalog/catalog.yaml + era5_downscaled.yaml shapes)."""
    data_dir = os.path.dirname(synth_paths["pages"])
    cat_file = tmp_path / "catalog.yaml"
    cat_file.write_text(f"""
metadata:
  version: 0.1
  parameters:
    DATA_DIR:
      type: str
      default: {data_dir}
datasets:
  web:
    description: crawl tables
    products:
      pages:
        description: common-crawl style pages
        path: "{{{{ DATA_DIR }}}}/pages.parquet"
        maximum_query_size_gb: 2.0
  internal:
    description: restricted
    role: internal
    products:
      pages:
        path: "{{{{ DATA_DIR }}}}/pages.parquet"
""")
    cat = Catalog.from_file(spark, str(cat_file))
    assert cat.list_datasets() == ["web"]                    # role hidden
    assert cat.list_datasets(roles=["internal"]) == ["internal", "web"]
    assert cat.list_datasets(roles=["admin"]) == ["internal", "web"]
    with pytest.raises(PermissionError):
        cat.dataset_info("internal")
    meta = cat.product_metadata("web", "pages")
    assert meta["maximum_query_size_gb"] == 2.0
    assert ("lang", "string") in meta["schema"]
    out = cat.execute("web", "pages", {"filters": {"lang": "en"}})
    assert out.count() > 0
