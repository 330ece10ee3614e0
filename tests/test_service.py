"""Service-shell tests (reference ``routers/resources.py`` semantics):
endpoint response shapes, job-queue lifecycle, and the full
resource→versioned-parquet conversion job through a mocked IPT."""

from __future__ import annotations

import json
import zipfile
from pathlib import Path

import pytest

from dwca_parquet_spark.plans.csw import CatalogConfig
from dwca_parquet_spark.service import (
    JobQueue,
    ResourceService,
    ServiceConfig,
)
from dwca_parquet_spark.sources.ipt import IptClient
from tests import dwca_fixtures as FX
from tests.test_catalog import EML, RSS


def _archive_bytes(tmp_path: Path, rid: str) -> bytes:
    (tmp_path / rid).mkdir()
    return FX.build_archive(
        tmp_path / rid, rid, FX.core_rows(), FX.CORE_HEADERS
    ).read_bytes()


def _service(spark, tmp_path, archive, **cfg) -> ResourceService:
    """The service over a mocked IPT whose ``archive.do`` serves
    ``archive(resource_id)``."""

    def fetch(url: str) -> bytes:
        if url.endswith("/rss"):
            return RSS
        if "archive.do" in url:
            return archive(url.split("r=")[-1].split("&")[0])
        return EML[url.split("r=")[-1]]

    config = ServiceConfig(
        catalog=CatalogConfig(ipt_url="https://ipt.test.org"),
        store=str(tmp_path / "store"),
        **cfg,
    )
    return ResourceService(
        spark, IptClient("https://ipt.test.org", fetch=fetch), config
    )


def _files(d: Path) -> list[Path]:
    return sorted(p for p in d.rglob("*") if p.is_file()) if d.exists() else []


@pytest.fixture()
def svc(spark, tmp_path):
    zips = {rid: _archive_bytes(tmp_path, rid) for rid in ("birds", "moths")}
    return _service(spark, tmp_path, zips.__getitem__)


def test_list_resources(svc):
    res = svc.list_resources("https://api.test/")["resources"]
    assert [r["id"] for r in res] == ["birds", "moths"]
    assert res[0]["url"] == "https://api.test/resources/birds"
    assert res[0]["version"] == "1.7"


def test_get_resource_converts(svc, spark, tmp_path):
    resp = svc.get_resource("birds")
    assert resp["ipt_dwca"] == "https://ipt.test.org/archive.do?r=birds"
    assert resp["version"] == "1.7"  # from EML packageId doi:10.1/birds/v1.7
    assert resp["meta"]["identification"]["title"] == "Bird occurrences"

    job = svc.jobs.jobs[-1].wait(120)
    assert job.status == "done", job.error
    versioned, latest = job.result
    assert versioned.endswith("/birds/v1.7.parquet")
    back = spark.read.parquet(latest)
    assert back.count() == len(FX.core_rows())
    assert "fid" in back.columns and "geom" in back.columns

    # re-enqueue: idempotent no-op (existence probe on the store's fs)
    svc.get_resource("birds")
    job2 = svc.jobs.jobs[-1].wait(120)
    assert job2.status == "done" and job2.result is None


def test_repeat_version_skips_before_fetch(spark, tmp_path):
    """A version already in the store is skipped before its archive is
    fetched (the reference probes at ``libs/parquet.py:33`` before the
    download at ``:35-42``), so a failing archive fetch cannot fail it."""
    birds = _archive_bytes(tmp_path, "birds")
    fetched = []

    def archive(rid: str) -> bytes:
        if fetched:
            raise ConnectionError("IPT archive fetch failed")
        fetched.append(rid)
        return birds

    svc = _service(spark, tmp_path, archive)
    svc.get_resource("birds")
    first = svc.jobs.jobs[-1].wait(120)
    assert first.status == "done", first.error
    svc.get_resource("birds")
    again = svc.jobs.jobs[-1].wait(120)
    assert again.status == "done", again.error
    assert again.result is None
    assert fetched == ["birds"]


def test_hostile_archive_fails_cleanly(spark, tmp_path):
    """A zip without meta.xml fails its job with an error naming meta.xml,
    leaves the staging dir empty and writes nothing to the store; the next
    resource on the same queue still converts."""
    hostile = tmp_path / "no_meta.zip"
    with zipfile.ZipFile(hostile, "w") as zf:
        zf.writestr("occurrence.txt", "id,scientificName\n1,x\n")
    archives = {
        "moths": hostile.read_bytes(),
        "birds": _archive_bytes(tmp_path, "birds"),
    }
    staging, store = tmp_path / "staging", tmp_path / "store"
    staging.mkdir()
    svc = _service(spark, tmp_path, archives.__getitem__, staging_dir=str(staging))

    svc.get_resource("moths")
    bad = svc.jobs.jobs[-1].wait(120)
    assert bad.status == "failed"
    assert "no meta.xml" in bad.error.strip().splitlines()[-1], bad.error
    assert list(staging.iterdir()) == []
    assert _files(store) == []

    svc.get_resource("birds")
    good = svc.jobs.jobs[-1].wait(120)
    assert good.status == "done", good.error
    assert good.result[0].endswith("/birds/v1.7.parquet")
    assert {p.name for p in _files(store)} >= {"v1.7.parquet", "birds.parquet"}
    assert list(staging.iterdir()) == []


def test_generate_csw_and_geoapi(svc, spark, tmp_path):
    out = svc.generate_csw()
    assert out["result"].endswith("/catalog/records.parquet")
    svc.jobs.join(180)
    records = spark.read.parquet(out["result"])
    assert records.count() == 2
    assert "anytext" in records.columns

    out2 = svc.generate_geoapi()
    svc.jobs.join(180)
    cfgs = json.loads(Path(out2["result"]).read_text())
    assert {c["id"] for c in cfgs} == {
        "ipt.test.org/birds", "ipt.test.org/moths"
    }


def test_background_queue_runs(svc, spark):
    q = JobQueue()
    job = q.enqueue(lambda a, b: a + b, 2, 3)
    assert job.wait(30).result == 5
    bad = q.enqueue(lambda: 1 / 0)
    bad.wait(30)
    assert bad.status == "failed" and "ZeroDivisionError" in bad.error


def test_http_skin_end_to_end(svc, spark):
    """The stdlib HTTP layer over the service: every reference route via a
    real socket — list, get (which enqueues the conversion), both catalog
    POSTs, plus 404s for unknown resources and routes."""
    import json as _json
    import urllib.error
    import urllib.request

    from dwca_parquet_spark.httpd import serve

    httpd = serve(svc)
    host, port = httpd.server_address
    base = f"http://{host}:{port}/api/v1"
    try:
        def get(url):
            with urllib.request.urlopen(url, timeout=30) as r:
                return _json.loads(r.read())

        def post(url):
            req = urllib.request.Request(url, method="POST", data=b"")
            with urllib.request.urlopen(req, timeout=30) as r:
                return _json.loads(r.read())

        listing = get(f"{base}/resources")["resources"]
        assert [r["id"] for r in listing] == ["birds", "moths"]
        assert listing[0]["url"].startswith("http://") and listing[0][
            "url"
        ].endswith("/api/v1/resources/birds")

        resp = get(f"{base}/resources/birds")
        assert resp["version"] == "1.7" and "job_id" in resp
        job = svc.jobs.jobs[-1].wait(120)
        assert job.status == "done", job.error

        assert "job_id" in post(f"{base}/resources/csw")
        assert "job_id" in post(f"{base}/resources/geoapi")
        svc.jobs.join(180)

        with pytest.raises(urllib.error.HTTPError) as e404:
            get(f"{base}/resources/nosuch")
        assert e404.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as e404b:
            get(f"{base}/bogus")
        assert e404b.value.code == 404
    finally:
        httpd.shutdown()
