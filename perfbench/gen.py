"""Seeded input generators for the benchmark.

Everything the program under test sees is produced here from a seed:
Darwin Core Archives (zip + meta.xml + delimited files), a fake IPT catalog
(RSS feed + one EML document per dataset) and the analytics tables the
registered queries read. Each generator also returns what a correct
conversion must produce, so the workloads can check outputs without a
second engine.
"""

from __future__ import annotations

import zipfile
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DWC_NS = "http://rs.tdwg.org/dwc/text/"
CORE_HEADERS = [
    "id",
    "occurrenceID",
    "scientificName",
    "eventDate",
    "decimalLatitude",
    "decimalLongitude",
    "individualCount",
]
# multimedia carries a column whose name collides with a core column, so the
# flatten plan's `{alias}_{col}` renaming runs
MOF_HEADERS = ["coreid", "measurementType", "measurementValue"]
MEDIA_HEADERS = ["coreid", "format", "identifier", "occurrenceID"]
_GENERA = ["Parus", "Larus", "Picea", "Betula", "Salmo", "Vulpes", "Lynx", "Ursus"]
_SPECIES = ["major", "canus", "abies", "pendula", "trutta", "lagopus", "borealis"]
_LATIN1 = ["Skjær", "Øyvind", "Façade", "Mañana", "Größe"]


@dataclass(frozen=True)
class ArchiveSpec:
    """Shape of one generated DwC-A (the FIXTURES.md §B variant axes)."""

    n_core: int
    sep: str = ","
    encoding: str = "UTF-8"
    wkt_share: float = 0.0  # share of core rows with a footprintWKT cell
    malformed_share: float = 0.0  # share of those WKT cells that are malformed
    null_coord_share: float = 0.0
    fanout: int = 0  # measurementorfact rows per core id (0: no such extension)
    media_share: float = 0.0  # share of core ids with a multimedia row (0: none)


@dataclass
class Expected:
    """What a correct flatten of one archive contains."""

    rows: int
    fid_count: int
    fid_sum: int  # sum of fid over output rows
    geom: dict[int, str | None] = field(default_factory=dict)  # sampled fids
    csv_bytes: int = 0


def _coord(rng: np.random.Generator, lo: float, hi: float, n: int) -> list[str]:
    # four decimals and never integral: Spark's double → string cast and
    # Python's repr agree on these, so the expected POINT text is exact
    vals = np.round(rng.uniform(lo, hi, n), 4)
    vals = np.where(vals == np.floor(vals), vals + 0.0625, vals)
    return [repr(float(v)) for v in vals]


def _render(headers: list[str], cols: list[list[str]], sep: str) -> str:
    def cell(v: str) -> str:
        if sep in v or '"' in v:
            return '"' + v.replace('"', '""') + '"'
        return v

    lines = [sep.join(headers)]
    lines.extend(sep.join(cell(v) for v in row) for row in zip(*cols))
    return "\n".join(lines) + "\n"


def _meta_xml(sep: str, enc: str, exts: list[str]) -> str:
    esc = sep.replace("\t", "\\t")

    def layer(tag: str, loc: str, key: str) -> str:
        return (
            f'\n  <{tag} encoding="{enc}" fieldsTerminatedBy="{esc}" '
            'linesTerminatedBy="\\n" ignoreHeaderLines="1" '
            'rowType="http://rs.tdwg.org/dwc/terms/Occurrence">'
            f"\n    <files><location>{loc}</location></files>"
            f'\n    <{key} index="0"/>\n  </{tag}>'
        )

    body = layer("core", "occurrence.txt", "id") + "".join(
        layer("extension", e, "coreid") for e in exts
    )
    return f'<?xml version="1.0" encoding="UTF-8"?>\n<archive xmlns="{DWC_NS}">{body}\n</archive>\n'


def write_archive(
    path: Path, spec: ArchiveSpec, seed: int, n_samples: int = 24
) -> Expected:
    """Write one DwC-A zip to ``path``; return the expected flatten result."""
    rng = np.random.default_rng(seed)
    n = spec.n_core
    ids = np.arange(1, n + 1)
    genus = rng.integers(0, len(_GENERA), n)
    species = rng.integers(0, len(_SPECIES), n)
    names = [f"{_GENERA[g]} {_SPECIES[s]}" for g, s in zip(genus, species)]
    if spec.encoding.upper() != "UTF-8":
        for i in range(0, n, 7):
            names[i] = f"{names[i]} {_LATIN1[i % len(_LATIN1)]}"
    days = rng.integers(0, 3650, n)
    dates = (np.datetime64("2010-01-01") + days).astype(str).tolist()
    lat = _coord(rng, 5.0, 35.0, n)
    lon = _coord(rng, 5.0, 35.0, n)
    null_coord = rng.random(n) < spec.null_coord_share
    for i in np.flatnonzero(null_coord):
        lat[i] = lon[i] = ""
    counts = [str(c) for c in rng.integers(1, 500, n)]
    # non-numeric cells only near the end: a sampled inference would call the
    # column integer, full-sample inference must see these
    for i in range(n - 1, max(n - 40, 0), -9):
        counts[i] = f"{counts[i]}+"

    headers = list(CORE_HEADERS)
    cols = [
        [str(i) for i in ids],
        [f"urn:occ:{seed}:{i}" for i in ids],
        names,
        dates,
        lat,
        lon,
        counts,
    ]
    wkt: list[str] = [""] * n
    wkt_valid = np.zeros(n, bool)
    if spec.wkt_share:
        has = rng.random(n) < spec.wkt_share
        bad = rng.random(n) < spec.malformed_share
        x0 = rng.integers(0, 170, n)
        y0 = rng.integers(0, 80, n)
        for i in np.flatnonzero(has):
            x, y = int(x0[i]), int(y0[i])
            if bad[i]:
                wkt[i] = f"POLYGON (({x} {y}, {x + 1} {y}"
            else:
                wkt[i] = f"POLYGON (({x} {y}, {x + 1} {y}, {x + 1} {y + 1}, {x} {y}))"
                wkt_valid[i] = True
        headers.append("footprintWKT")
        cols.append(wkt)

    files: dict[str, str] = {"occurrence.txt": _render(headers, cols, spec.sep)}
    per_id = np.ones(n, np.int64)
    if spec.fanout:
        rep = np.repeat(ids, spec.fanout)
        k = np.tile(np.arange(spec.fanout), n)
        mval = [str(v) for v in rng.integers(0, 10_000, len(rep))]
        for i in range(len(rep) - 1, max(len(rep) - 60, 0), -11):
            mval[i] = "n/a"
        files["measurementorfact.txt"] = _render(
            MOF_HEADERS,
            [[str(i) for i in rep], [f"trait{j}" for j in k], mval],
            spec.sep,
        )
        per_id *= spec.fanout
    if spec.media_share:
        covered = rng.random(n) < spec.media_share
        cids = ids[covered]
        files["multimedia.txt"] = _render(
            MEDIA_HEADERS,
            [
                [str(i) for i in cids],
                ["image/jpeg"] * len(cids),
                [f"https://img.example.org/{seed}/{i}.jpg" for i in cids],
                [f"media:{i}" for i in cids],
            ],
            spec.sep,
        )
        per_id *= covered

    exts = [f for f in ("measurementorfact.txt", "multimedia.txt") if f in files]
    encoded = {name: text.encode(spec.encoding) for name, text in files.items()}
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        zf.writestr("meta.xml", _meta_xml(spec.sep, spec.encoding, exts))
        for name, data in encoded.items():
            zf.writestr(name, data)

    kept = np.flatnonzero(per_id > 0)
    exp = Expected(
        rows=int(per_id.sum()),
        fid_count=len(kept),
        fid_sum=int((ids * per_id).sum()),
        csv_bytes=sum(len(b) for b in encoded.values()),
    )
    # sample across every geom branch: valid WKT, malformed WKT, NULL coords
    pools = [
        kept[wkt_valid[kept]],
        kept[(np.array([bool(w) for w in wkt])[kept]) & ~wkt_valid[kept]],
        kept[null_coord[kept]],
        kept,
    ]
    for pool in pools:
        if len(pool):
            for i in rng.choice(pool, min(n_samples // 4, len(pool)), replace=False):
                i = int(i)
                if wkt_valid[i]:
                    g = wkt[i]
                elif null_coord[i]:
                    g = None
                else:
                    g = f"POINT ({lat[i]} {lon[i]})"
                exp.geom[int(ids[i])] = g
    return exp


# --- fake IPT catalog -------------------------------------------------------


def rss(ipt_url: str, datasets: list[tuple[str, str, str]]) -> bytes:
    """RSS feed for (id, title, version) triples."""
    items = "".join(
        f"<item><title>{t}</title><link>{ipt_url}/resource?r={rid}</link>"
        f"<guid>{ipt_url}/resource?r={rid}/v{v}</guid></item>"
        for rid, t, v in datasets
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?><rss version="2.0"><channel>'
        f"<title>IPT</title>{items}</channel></rss>"
    ).encode()


def eml(rid: str, title: str, version: str, seed: int) -> bytes:
    """One GBIF-profile EML document; the version sits in the packageId."""
    rng = np.random.default_rng(seed)
    w, s = (float(v) for v in np.round(rng.uniform(-20, 20, 2), 2))
    kws = "".join(f"<keyword>{_GENERA[k]}</keyword>" for k in rng.integers(0, 8, 4))
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1" '
        f'packageId="doi:10.5072/{rid}/v{version}"><dataset>'
        f"<title>{title}</title>"
        "<creator><individualName><givenName>Kari</givenName>"
        f"<surName>Nordmann{rid[-2:]}</surName></individualName></creator>"
        "<associatedParty><individualName><givenName>Ola</givenName>"
        "<surName>Hansen</surName></individualName></associatedParty>"
        "<pubDate>2024-05-01</pubDate>"
        f"<abstract><para>Occurrences for {title}.</para></abstract>"
        f"<keywordSet>{kws}<keywordThesaurus>GBIF</keywordThesaurus></keywordSet>"
        "<coverage><geographicCoverage><boundingCoordinates>"
        f"<westBoundingCoordinate>{w}</westBoundingCoordinate>"
        f"<eastBoundingCoordinate>{w + 10}</eastBoundingCoordinate>"
        f"<northBoundingCoordinate>{s + 10}</northBoundingCoordinate>"
        f"<southBoundingCoordinate>{s}</southBoundingCoordinate>"
        "</boundingCoordinates></geographicCoverage></coverage>"
        "</dataset></eml:eml>\n"
    ).encode()


# --- analytics tables -------------------------------------------------------

_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()


def query_tables(out_dir: Path, seed: int, scale: float) -> dict[str, int]:
    """TPC-H-shaped star schema plus events/documents/embeddings, with the
    column names and types the registered queries read. ``scale`` 1.0 is
    6 000 lineitem rows. Returns row counts per table."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150 * scale), max(int(10 * scale), 10), int(200 * scale)
    n_ord, n_line = int(1500 * scale), int(6000 * scale)
    n_ev, n_doc, n_emb = int(1000 * scale), 500, 500
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    us_day = np.int64(86_400_000_000)
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ).tolist(),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(0, 9999, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["cold", "small", "large", "red", "blue", "green"], n_part),
                    rng.choice(["widget", "bolt", "gear", "nut", "valve"], n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "PROMO", "LARGE", "STANDARD", "SMALL", "MEDIUM"], n_part
            ).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + np.arange(n_part) % 200 * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": pa.array(day0 + rng.integers(0, 2400, n_ord) * us_day),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ).tolist(),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": pa.array(day0 + rng.integers(1, 2500, n_line) * us_day),
        },
    }
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts),
        "user_id": rng.integers(0, max(n_ev // 60, 5), n_ev).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev).tolist(),
        "value": money(0, 330, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.08:
            # near-duplicate of an earlier document: the dedup queries have
            # pairs to find
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = rng.choice(_WORDS, int(rng.integers(8, 90))).tolist()
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = rng.normal(size=(n_emb, 64))
    near = rng.random(n_emb) < 0.05
    src = rng.integers(0, n_emb, n_emb)
    emb[near] = emb[src[near]] + rng.normal(scale=0.05, size=(int(near.sum()), 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(
            list(emb.astype(np.float32)), type=pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    }
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, out_dir / f"{name}.parquet")
        counts[name] = table.num_rows
    return counts
