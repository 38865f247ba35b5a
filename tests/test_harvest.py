"""The catalog harvest: ``IptClient.harvest`` keeps each dataset's parsed
EML with its RSS version, so a pass fetches only what changed. An
incremental harvest must give the same catalog outputs as a fresh
client's full one, fetch exactly the changed EMLs, stay bounded by the
latest RSS, and survive a pass that fails midway. The rows reach Spark
through Arrow (``plans.csw.rows_to_frame``); its edge values must collect
equal to ``createDataFrame(list_of_dicts, schema)``."""

from __future__ import annotations

import sys
import threading
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from dwca_parquet_spark.plans import csw, geoapi
from dwca_parquet_spark.plans.csw import CatalogConfig, harvest_rows
from dwca_parquet_spark.plans.geoapi import harvest_geoapi_rows
from dwca_parquet_spark.service import ServiceConfig, job_csw, job_geoapi
from dwca_parquet_spark.sources.ipt import IptClient

IPT = "https://ipt.test.org"


@dataclass
class Dataset:
    title: str
    version: str  # "" → a guid with no /vN
    abstract: str
    keywords: tuple[str, ...] = ("Occurrence",)
    bbox: tuple[float, float, float, float] | None = (4.5, 57.75, 31.0, 71.5)
    contacts: tuple[str, ...] = ("Grete Olsen",)


def _eml(rid: str, d: Dataset) -> bytes:
    people = "".join(
        f"<creator><individualName><surName>{c}</surName></individualName></creator>"
        for c in d.contacts
    )
    kws = (
        "<keywordSet>" + "".join(f"<keyword>{k}</keyword>" for k in d.keywords)
        + "</keywordSet>"
        if d.keywords else ""
    )
    cover = ""
    if d.bbox is not None:
        w, s, e, n = d.bbox
        cover = (
            "<coverage><geographicCoverage><boundingCoordinates>"
            f"<westBoundingCoordinate>{w}</westBoundingCoordinate>"
            f"<eastBoundingCoordinate>{e}</eastBoundingCoordinate>"
            f"<northBoundingCoordinate>{n}</northBoundingCoordinate>"
            f"<southBoundingCoordinate>{s}</southBoundingCoordinate>"
            "</boundingCoordinates></geographicCoverage></coverage>"
        )
    pkg = f"doi:10.1/{rid}" + (f"/v{d.version}" if d.version else "")
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1" '
        f'packageId="{pkg}"><dataset><title>{d.title}</title>{people}'
        f"<pubDate>2024-05-01</pubDate><abstract><para>{d.abstract}</para>"
        f"</abstract>{kws}{cover}</dataset></eml:eml>"
    ).encode()


class FakeIpt:
    """A mutable IPT behind ``fetch`` that counts what it serves."""

    def __init__(self, datasets: dict[str, Dataset]):
        self.datasets = datasets
        self.rss_titles: dict[str, str] = {}  # RSS title overrides
        self.fetched: Counter = Counter()
        self.fail_on_eml: int | None = None  # raise on the n-th EML fetch

    def fetch(self, url: str) -> bytes:
        if url.endswith("/rss"):
            self.fetched["rss"] += 1
            items = "".join(
                f"<item><title>{self.rss_titles.get(rid, d.title)}</title>"
                f"<link>{IPT}/resource?r={rid}</link>"
                f"<guid>{IPT}/resource?r={rid}"
                + (f"/v{d.version}" if d.version else "")
                + "</guid></item>"
                for rid, d in self.datasets.items()
            )
            return (
                '<?xml version="1.0" encoding="UTF-8"?><rss version="2.0">'
                f"<channel><title>IPT</title>{items}</channel></rss>"
            ).encode()
        rid = url.split("r=")[-1]
        if self.fail_on_eml is not None and self.fetched["eml"] + 1 == self.fail_on_eml:
            self.fail_on_eml = None
            raise ConnectionError(f"injected EML fetch failure: {url}")
        self.fetched["eml"] += 1
        self.fetched[rid] += 1
        return _eml(rid, self.datasets[rid])

    def publish(self, rid: str, **changes) -> None:
        """Change a dataset's EML; a versioned one gets its version bumped,
        as an IPT does on every republication."""
        d = self.datasets[rid]
        for k, v in changes.items():
            setattr(d, k, v)
        if d.version:
            d.version = str(int(d.version) + 1)

    def take(self) -> Counter:
        out, self.fetched = self.fetched, Counter()
        return out


def _catalog() -> dict[str, Dataset]:
    return {
        "birds": Dataset("Bird occurrences", "3", "Observations of birds.",
                         ("Occurrence", "Birds")),
        "moths": Dataset("Moth traps", "1", "Light-trap moth counts."),
        "plants": Dataset("Vascular plants", "", "Herbarium sheets.",
                          ("Occurrence", "Plants")),
        "fungi": Dataset("Fungi", "7", "Fungal records.", bbox=None),
    }


def _full(ipt: FakeIpt) -> IptClient:
    """A fresh client: its first pass is a full harvest."""
    return IptClient(IPT, fetch=ipt.fetch)


def test_incremental_harvest_equals_full(spark, tmp_path):
    ipt = FakeIpt(_catalog())
    client = IptClient(IPT, fetch=ipt.fetch)
    harvest_rows(client)

    def same_rows():
        assert harvest_rows(client) == harvest_rows(_full(ipt))
        assert harvest_geoapi_rows(client) == harvest_geoapi_rows(_full(ipt))

    ipt.publish("birds", abstract="Observations of birds, revised.")  # version bump
    same_rows()
    ipt.publish("plants", title="Vascular plants (NO)")  # no /vN: always refetched
    same_rows()
    del ipt.datasets["moths"]  # dropped from the RSS
    same_rows()
    ipt.rss_titles["fungi"] = "Fungi of Norway"  # RSS title only, no bump
    same_rows()
    # geoapi alone refreshes an entry; CSW must then render the new EML
    ipt.publish("fungi", keywords=("Fungi",))
    assert harvest_geoapi_rows(client) == harvest_geoapi_rows(_full(ipt))
    assert harvest_rows(client) == harvest_rows(_full(ipt))

    def outputs(c: IptClient, name: str) -> tuple[pq.Table, bytes]:
        cfg = ServiceConfig(catalog=CatalogConfig(ipt_url=IPT),
                            store=str(tmp_path / name))
        return (pq.read_table(job_csw(spark, c, cfg)),
                Path(job_geoapi(spark, c, cfg)).read_bytes())

    csw_inc, geo_inc = outputs(client, "incremental")
    csw_full, geo_full = outputs(_full(ipt), "full")
    assert geo_inc == geo_full
    assert csw_inc.equals(csw_full, check_metadata=True)
    assert csw_inc.num_rows == 3


def test_fetch_counts_and_state_bounds():
    catalog = _catalog()
    plants = catalog.pop("plants")
    ipt = FakeIpt(catalog)
    client = IptClient(IPT, fetch=ipt.fetch)
    harvest_rows(client)
    assert ipt.take() == Counter(rss=1, eml=3, birds=1, moths=1, fungi=1)
    # no publish: the RSS and no EML
    harvest_geoapi_rows(client)
    harvest_rows(client)
    assert ipt.take() == Counter(rss=2)

    # a dataset without a version is fetched on every pass
    ipt.datasets["plants"] = plants
    harvest_rows(client)
    harvest_geoapi_rows(client)
    assert ipt.take() == Counter(rss=2, eml=2, plants=2)

    # k publishes → k EMLs (plus the unversioned one, every pass)
    ipt.publish("birds", abstract="v4")
    ipt.publish("fungi", abstract="v8")
    harvest_rows(client)
    assert ipt.take() == Counter(rss=1, eml=3, birds=1, fungi=1, plants=1)
    assert set(client._emls) == {"birds", "moths", "plants", "fungi"}

    # a fetch failing on the 2nd EML: the pass raises, the state is kept
    before = client._emls
    ipt.publish("birds", abstract="v5")
    ipt.publish("moths", abstract="v2")
    ipt.fail_on_eml = 2
    with pytest.raises(ConnectionError, match="injected"):
        harvest_rows(client)
    assert client._emls is before
    ipt.take()
    # the next pass refetches what changed and is right
    rows = harvest_rows(client)
    assert ipt.take() == Counter(rss=1, eml=3, birds=1, moths=1, plants=1)
    assert rows == harvest_rows(_full(ipt))
    assert client._emls["birds"].version == "5"
    assert client._emls["moths"].version == "2"

    # bounded by the latest RSS: a dropped dataset leaves the state
    del ipt.datasets["moths"], ipt.datasets["birds"]
    harvest_geoapi_rows(client)
    assert set(client._emls) == {"plants", "fungi"}
    ipt.datasets["moths"] = Dataset("Moth traps", "9", "Back again.")
    ipt.take()
    harvest_geoapi_rows(client)
    assert ipt.take() == Counter(rss=1, eml=2, moths=1, plants=1)
    assert len(client._emls) == len(ipt.datasets) == 3


def test_concurrent_passes_leave_a_whole_state():
    """Passes on several threads while datasets are republished: each pass
    swaps in a whole state of its own, so after them one more pass is a
    correct full catalog and the state holds one entry per RSS item."""
    ipt = FakeIpt({f"d{i}": Dataset(f"D{i}", "1", f"a{i}") for i in range(40)})
    client = IptClient(IPT, fetch=ipt.fetch)
    errors = []

    def passes(k):
        try:
            for j in range(15):
                (harvest_rows if (j + k) % 2 else harvest_geoapi_rows)(client)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=passes, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for i in range(60):
            ipt.publish(f"d{i % 40}", abstract=f"rev{i}")
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert harvest_rows(client) == harvest_rows(_full(ipt))
    assert harvest_geoapi_rows(client) == harvest_geoapi_rows(_full(ipt))
    assert len(client._emls) == 40


EDGES = {
    # bbox and crs NULL, no keywordSet, no contacts, non-ASCII text
    "nordic": Dataset("Fugler på Jæren", "2", "Måker og ærfugl, sjø og øy.",
                      keywords=("Sjøfugl", "Øy"), bbox=None, contacts=("Ødegård",)),
    "bare": Dataset("Bare", "1", "", keywords=(), contacts=()),
    "plain": Dataset("Plain", "", "Plain abstract."),
}


@pytest.mark.parametrize(
    "harvest, build",
    [
        (harvest_rows, csw.eml_to_csw_records),
        (harvest_geoapi_rows, geoapi.ipt_to_pygeoapi_resources),
    ],
    ids=["csw", "geoapi"],
)
def test_arrow_handoff_edge_values(spark, monkeypatch, harvest, build):
    rows = harvest(IptClient(IPT, fetch=FakeIpt(dict(EDGES)).fetch))
    by_id = {r["resource_id"]: r for r in rows}
    assert by_id["nordic"]["bbox"] is None
    assert by_id["bare"]["keyword_groups"] == []
    if "contacts" in by_id["bare"]:
        assert by_id["bare"]["contacts"] == []
    else:
        assert by_id["nordic"]["crs"] is None

    arrow = build(spark, rows).collect()
    monkeypatch.setattr(
        csw, "rows_to_frame",
        lambda spark, rows, schema: spark.createDataFrame(rows, schema),
    )
    monkeypatch.setattr(
        geoapi, "rows_to_frame",
        lambda spark, rows, schema: spark.createDataFrame(rows, schema),
    )
    pickled = build(spark, rows).collect()
    assert arrow == pickled
    assert len(arrow) == 3
