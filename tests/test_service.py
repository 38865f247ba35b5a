"""Service-shell tests (reference ``routers/resources.py`` semantics):
endpoint response shapes, job-queue lifecycle, and the full
resource→versioned-parquet conversion job through a mocked IPT."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from dwca_parquet_spark.fs import FS
from dwca_parquet_spark.plans.csw import CatalogConfig
from dwca_parquet_spark.service import (
    Job,
    JobQueue,
    ResourceService,
    ServiceConfig,
)
from dwca_parquet_spark.sources.ipt import IptClient
from tests import dwca_fixtures as FX
from tests.test_catalog import EML, RSS


def _fetcher(zips: dict, archive_urls: list[str], archives_fail: bool = False):
    """Mock IPT fetch; records every archive URL it is asked for."""

    def fetch(url: str) -> bytes:
        if url.endswith("/rss"):
            return RSS
        if "archive.do" in url:
            archive_urls.append(url)
            if archives_fail:
                raise ConnectionError(f"archive fetch refused: {url}")
            rid = url.split("r=")[-1].split("&")[0]
            return Path(zips[rid]).read_bytes()
        rid = url.split("r=")[-1]
        return EML[rid]

    return fetch


@pytest.fixture()
def zips(tmp_path):
    out = {}
    for rid in ("birds", "moths"):
        (tmp_path / rid).mkdir()
        out[rid] = FX.build_archive(
            tmp_path / rid, rid, FX.core_rows(), FX.CORE_HEADERS
        )
    return out


@pytest.fixture()
def archive_urls():
    return []


@pytest.fixture()
def svc(spark, tmp_path, zips, archive_urls):
    cfg = ServiceConfig(
        catalog=CatalogConfig(ipt_url="https://ipt.test.org"),
        store=str(tmp_path / "store"),
    )
    client = IptClient("https://ipt.test.org", fetch=_fetcher(zips, archive_urls))
    return ResourceService(spark, client, cfg, jobs=JobQueue(inline=True))


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


def test_repeat_skips_before_fetch(svc, spark, archive_urls):
    """A repeat of a converted version probes the store and stops there:
    no archive fetch, no Spark job, output files untouched."""
    _, first = FX.in_job_group(
        spark, "first-conversion", lambda: svc.get_resource("birds")
    )
    job = svc.jobs.jobs[-1].wait(120)
    assert job.status == "done", job.error
    assert first, "the job-group count must see a conversion's Spark jobs"
    assert len(archive_urls) == 1
    versioned, _ = job.result
    before = Path(versioned).stat()

    _, repeat = FX.in_job_group(
        spark, "repeat-conversion", lambda: svc.get_resource("birds")
    )
    job2 = svc.jobs.jobs[-1].wait(120)
    assert job2.status == "done", job2.error
    assert job2.result is None
    assert len(archive_urls) == 1  # no fetch on the repeat
    assert repeat == []  # no Spark job on the repeat
    after = Path(versioned).stat()
    assert (after.st_mtime_ns, after.st_size) == (before.st_mtime_ns, before.st_size)


def test_probe_runs_before_fetch(svc, spark, zips):
    """Reference ordering (``libs/parquet.py:33`` before ``:35-42``): with
    an IPT whose archive fetch fails, a repeat of a converted version still
    succeeds with None, while a first-seen version fails."""
    svc.get_resource("birds")
    job = svc.jobs.jobs[-1].wait(120)
    assert job.status == "done", job.error

    refused: list[str] = []
    broken = ResourceService(
        spark,
        IptClient(
            "https://ipt.test.org",
            fetch=_fetcher(zips, refused, archives_fail=True),
        ),
        svc.cfg,
        jobs=JobQueue(inline=True),
    )
    broken.get_resource("birds")
    repeat = broken.jobs.jobs[-1].wait(120)
    assert repeat.status == "done", repeat.error
    assert repeat.result is None and refused == []

    broken.get_resource("moths")
    first_seen = broken.jobs.jobs[-1].wait(120)
    assert first_seen.status == "failed"
    assert "archive fetch refused" in first_seen.error
    assert len(refused) == 1


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


def _visible(d: Path) -> set[str]:
    """Names in ``d`` that Spark's and Hadoop's listings do not skip."""
    return {p.name for p in d.iterdir() if not p.name.startswith((".", "_"))}


def _fail_once(monkeypatch, owner, name, when=lambda *args: True):
    """Make ``owner.name`` raise on its first call for which ``when(*args)``
    holds; every other call runs the original."""
    original = getattr(owner, name)
    fired = []

    def wrapper(*args, **kw):
        if not fired and when(*args):
            fired.append(args)
            raise RuntimeError(f"injected crash in {name}")
        return original(*args, **kw)

    monkeypatch.setattr(owner, name, wrapper)
    return fired


def _convert(svc) -> Job:
    svc.get_resource("birds")
    return svc.jobs.jobs[-1].wait(120)


def _assert_published(svc, spark) -> None:
    resources = Path(svc.cfg.resources_base)
    versioned = resources / "birds" / "v1.7.parquet"
    latest = resources / "birds.parquet"
    assert versioned.read_bytes() == latest.read_bytes()
    assert spark.read.parquet(str(latest)).count() == len(FX.core_rows())
    assert _visible(resources / "birds") == {"v1.7.parquet"}
    assert _visible(resources) == {"birds", "birds.parquet"}


def test_crash_in_alias_copy_is_redone_on_repeat(svc, spark, monkeypatch):
    """A crash inside the latest alias copy leaves no versioned file, so the
    repeat converts again instead of skipping with the alias missing."""
    fired = _fail_once(monkeypatch, FS, "copy")
    job = _convert(svc)
    assert fired and job.status == "failed" and "injected crash" in job.error
    resources = Path(svc.cfg.resources_base)
    assert _visible(resources / "birds") == set()
    assert _visible(resources) == {"birds"}

    repeat = _convert(svc)
    assert repeat.status == "done", repeat.error
    assert repeat.result is not None
    _assert_published(svc, spark)


def test_crash_before_versioned_commit_is_redone_on_repeat(
    svc, spark, monkeypatch
):
    """The versioned file is the commit point: a crash just before its
    rename (alias already published) is redone by the repeat."""
    fired = _fail_once(
        monkeypatch, FS, "replace",
        when=lambda self, src, dst: str(dst).endswith("/birds/v1.7.parquet"),
    )
    job = _convert(svc)
    assert fired and job.status == "failed" and "injected crash" in job.error
    resources = Path(svc.cfg.resources_base)
    assert _visible(resources / "birds") == set()
    assert (resources / "birds.parquet").is_file()

    repeat = _convert(svc)
    assert repeat.status == "done", repeat.error
    assert repeat.result is not None
    _assert_published(svc, spark)
    # published, so the next repeat is the one-probe skip again
    assert _convert(svc).result is None


def test_crash_in_geoapi_write_keeps_previous_file(svc, monkeypatch):
    """A crash part-way through the geoapi JSON write leaves the published
    array byte-identical and no visible residue; the next run publishes."""
    out = Path(svc.generate_geoapi()["result"])
    svc.jobs.join(180)
    before = out.read_bytes()

    original = FS.write_bytes

    def half_then_crash(self, p, data):
        original(self, p, data[: len(data) // 2])
        raise RuntimeError("injected crash in write_bytes")

    monkeypatch.setattr(FS, "write_bytes", half_then_crash)
    svc.generate_geoapi()
    job = svc.jobs.jobs[-1].wait(180)
    assert job.status == "failed" and "injected crash" in job.error
    assert out.read_bytes() == before
    assert _visible(out.parent) == {out.name}

    monkeypatch.setattr(FS, "write_bytes", original)
    svc.generate_geoapi()
    assert svc.jobs.jobs[-1].wait(180).status == "done"
    assert out.read_bytes() == before
    assert sorted(p.name for p in out.parent.iterdir()) == [
        f".{out.name}.crc", out.name
    ]


def test_crash_in_csw_write_keeps_previous_file(svc, spark, monkeypatch):
    """A crash inside the CSW table's Spark write (after its part file
    landed) leaves the published table byte-identical; the residue is
    hidden, never read as the table, and cleared by the next publish."""
    from pyspark.sql.readwriter import DataFrameWriter

    out = Path(svc.generate_csw()["result"])
    svc.jobs.join(180)
    before = out.read_bytes()

    original = DataFrameWriter.parquet

    def write_then_crash(self, path, *args, **kw):
        original(self, path, *args, **kw)
        raise RuntimeError("injected crash in the CSW write")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_crash)
    svc.generate_csw()
    job = svc.jobs.jobs[-1].wait(180)
    assert job.status == "failed" and "injected crash" in job.error
    monkeypatch.setattr(DataFrameWriter, "parquet", original)
    assert out.read_bytes() == before
    assert _visible(out.parent) == {out.name}
    # reading the directory skips the hidden residue: only the table
    assert spark.read.parquet(str(out.parent)).count() == 2

    svc.generate_csw()
    assert svc.jobs.jobs[-1].wait(180).status == "done"
    assert sorted(p.name for p in out.parent.iterdir()) == [
        f".{out.name}.crc", out.name
    ]
    assert spark.read.parquet(str(out)).count() == 2


@pytest.mark.parametrize("rid", ["..", "a/b", "birds&v=9", "", "%2e%2e"])
def test_get_resource_rejects_bad_ids(svc, tmp_path, rid):
    """An id outside the IPT shortname form is refused before it reaches an
    IPT URL or a store path."""
    fetched: list[str] = []
    fetch = svc.client.fetch
    svc.client.fetch = lambda url: fetched.append(url) or fetch(url)
    with pytest.raises(ValueError, match="invalid resource id"):
        svc.get_resource(rid)
    assert fetched == [] and svc.jobs.jobs == []
    assert not (tmp_path / "store").exists()


def test_http_bad_resource_id_is_400(svc, tmp_path):
    import urllib.error
    import urllib.request

    from dwca_parquet_spark.httpd import serve

    fetched: list[str] = []
    fetch = svc.client.fetch
    svc.client.fetch = lambda url: fetched.append(url) or fetch(url)
    httpd = serve(svc)
    host, port = httpd.server_address
    try:
        with pytest.raises(urllib.error.HTTPError) as e400:
            urllib.request.urlopen(
                f"http://{host}:{port}/api/v1/resources/%2e%2e", timeout=30
            )
        assert e400.value.code == 400
    finally:
        httpd.shutdown()
        httpd.server_close()
    assert fetched == [] and svc.jobs.jobs == []
    assert not (tmp_path / "store").exists()
