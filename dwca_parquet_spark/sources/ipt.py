"""IPT (GBIF Integrated Publishing Toolkit) harvest source.

Reference behavior (``/root/reference/src/dwca_parquet/libs/ipt.py:6-26``):
- ``GET {ipt_url}/rss`` → RSS channel, one ``<item>`` per dataset; the
  dataset id comes from ``link.split("=")[1]`` and the version from the
  guid text ``…/v{N}`` (``ipt.py:14,18``).
- ``GET {ipt_url}/eml.do?r={id}`` → the dataset's EML metadata XML
  (``ipt.py:23-26``).

Here the HTTP layer is an injectable ``fetch: (url) -> bytes`` so tests and
offline runs use canned XML (SURVEY §7.4 mockable-HTTP design); the default
uses urllib. Parsing is stdlib ``xml.etree`` (the reference's
xmltodict/BeautifulSoup stack is not available here and is not part of the
semantics).

``parse_eml`` produces the same *shape* pygeometa's GBIF-EML import gives
the reference pipelines (``libs/csw.py:46-60``): ``metadata.identifier``,
``identification.{title,abstract,dates.publication,extents.spatial[0].bbox,
keywords}``, ``contact.{role: {individualname}}`` — only the fields the
pipelines consume.

Scale note: harvesting is metadata-sized (one RSS doc + one EML per
dataset) and stays on the driver, exactly like the reference; the *bulk*
data path is the DwC-A archives those datasets point at.
"""

from __future__ import annotations

import re
import urllib.request
import xml.etree.ElementTree as ET
from collections.abc import Callable
from dataclasses import dataclass, field

Fetch = Callable[[str], bytes]

_VERSION = re.compile(r"v(\d+(?:\.\d+)*)", re.ASCII)


def _default_fetch(url: str) -> bytes:
    with urllib.request.urlopen(url, timeout=60) as resp:  # noqa: S310
        return resp.read()


@dataclass
class IptClient:
    ipt_url: str
    fetch: Fetch = field(default=_default_fetch)

    def datasets(self) -> list[dict]:
        """RSS → one dict per dataset: id, version, title, link, guid."""
        return parse_rss(self.fetch(f"{self.ipt_url}/rss"))

    def eml(self, resource_id: str) -> bytes:
        return self.fetch(f"{self.ipt_url}/eml.do?r={resource_id}")

    def archive(self, resource_id: str, version: str) -> bytes:
        """The DwC-A zip of one dataset version."""
        return self.fetch(f"{self.ipt_url}/archive.do?r={resource_id}&v={version}")


def version_from(uri: str, default: str) -> str:
    """``N`` of a trailing ``/vN`` (RSS guid, EML packageId; ``N`` is dotted
    digits such as ``12`` or ``1.2``), else ``default``. The version names
    the versioned file and the archive fetch, so any other last segment
    (``doi:10.15468/dl.vx2x9k``, ``resource?r=vascular_plants``) is no
    version."""
    m = _VERSION.fullmatch(uri.rsplit("/", 1)[-1]) if "/" in uri else None
    return m[1] if m else default


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_rss(rss_xml: bytes | str) -> list[dict]:
    """Parse an IPT RSS feed into dataset descriptors.

    Mirrors reference ``ipt.py:9-20``: per <item>, flatten child elements
    (namespace-prefixed names become ``ns_name``), derive ``id`` from the
    resource link query (``?r={id}``) and ``version`` from the guid's
    trailing ``/vN``.
    """
    root = ET.fromstring(rss_xml)
    out = []
    for item in root.iter("item"):
        content: dict = {}
        for child in item:
            content[_strip_ns(child.tag)] = (child.text or "").strip()
        link = content.get("link", "")
        resource_id = link.split("=")[1] if "=" in link else link
        version = version_from(content.get("guid", ""), "")
        out.append({**content, "id": resource_id, "version": version})
    return out


def parse_eml(eml_xml: bytes | str) -> dict:
    """GBIF EML → the metadata dict shape the catalog pipelines consume.

    Structure follows the public EML 2.1.1/GBIF profile: packageId on the
    root, dataset/title, dataset/abstract/para, dataset/pubDate,
    dataset/coverage/geographicCoverage/boundingCoordinates,
    dataset/keywordSet/keyword*, dataset/creator|metadataProvider|
    associatedParty/individualName.
    """
    root = ET.fromstring(eml_xml)
    ds = next((c for c in root.iter() if _strip_ns(c.tag) == "dataset"), root)

    def find1(el, name: str):
        return next((c for c in el.iter() if _strip_ns(c.tag) == name), None)

    def text1(el, name: str, default: str = "") -> str:
        node = find1(el, name)
        if node is None:
            return default
        return " ".join(t.strip() for t in node.itertext() if t.strip())

    bbox = None
    bc = find1(ds, "boundingCoordinates")
    if bc is not None:
        west = float(text1(bc, "westBoundingCoordinate", "0"))
        east = float(text1(bc, "eastBoundingCoordinate", "0"))
        south = float(text1(bc, "southBoundingCoordinate", "0"))
        north = float(text1(bc, "northBoundingCoordinate", "0"))
        bbox = [west, south, east, north]  # minx, miny, maxx, maxy

    keywords: dict[str, dict] = {}
    for i, kws in enumerate(c for c in ds.iter() if _strip_ns(c.tag) == "keywordSet"):
        words = [
            " ".join(t.strip() for t in k.itertext() if t.strip())
            for k in kws
            if _strip_ns(k.tag) == "keyword"
        ]
        thesaurus = text1(kws, "keywordThesaurus", f"set{i}")
        keywords[thesaurus or f"set{i}"] = {"keywords": [w for w in words if w]}

    contacts: dict[str, dict] = {}
    for role in ("creator", "metadataProvider", "contact", "associatedParty"):
        for i, el in enumerate(c for c in ds.iter() if _strip_ns(c.tag) == role):
            ind = find1(el, "individualName")
            if ind is None:
                continue
            given = text1(ind, "givenName")
            sur = text1(ind, "surName")
            name = " ".join(p for p in (given, sur) if p)
            if name:
                contacts[f"{role}_{i}"] = {"individualname": name}

    return {
        "metadata": {"identifier": root.get("packageId", "")},
        "identification": {
            "title": text1(ds, "title"),
            "abstract": text1(ds, "abstract"),
            "dates": {"publication": text1(ds, "pubDate")},
            "extents": {
                "spatial": [
                    {
                        "bbox": bbox,
                        "crs": 4326,
                    }
                ]
                if bbox is not None
                else []
            },
            "keywords": keywords,
        },
        "contact": contacts,
    }
