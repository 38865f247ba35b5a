"""The two conversion-service workloads: ``convert_large`` and ``service_mix``.

Both drive the program only through its public service surface
(``ResourceService`` / ``httpd.serve``) with a fake IPT whose HTTP fetch is
served from generated bytes, and both check every output they time.
"""

from __future__ import annotations

import json
import queue
import statistics
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field, replace
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import gen

IPT_URL = "https://ipt.bench.example"

# convert_large: one large archive converted back-to-back under fresh versions
LARGE = gen.ArchiveSpec(
    n_core=100_000, wkt_share=0.2, malformed_share=0.15, null_coord_share=0.03,
    fanout=2, media_share=0.5,
)
WARMUP_LARGE_ROWS = 20_000

# service_mix: a catalog of CATALOG_SIZE datasets, some of which carry
# archives of ARCHIVE_ROWS core rows in one of these FIXTURES.md §B shapes.
# One size for all keeps a run's work the same whatever its seed (the seed
# picks shapes, contents and tie order); the shapes vary the work per row.
CATALOG_SIZE = 1000
SHAPES = {
    "plain": gen.ArchiveSpec(n_core=0, null_coord_share=0.05),
    "tab_ext": gen.ArchiveSpec(n_core=0, sep="\t", fanout=1),
    "wkt": gen.ArchiveSpec(n_core=0, wkt_share=0.3, malformed_share=0.2),
    "fanout_two_ext": gen.ArchiveSpec(n_core=0, fanout=2, media_share=0.5),
    "latin1_collide": gen.ArchiveSpec(n_core=0, sep="\t", encoding="ISO-8859-1", media_share=0.7),
    "wkt_nullcoord_ext": gen.ArchiveSpec(
        n_core=0, wkt_share=0.2, malformed_share=0.3, null_coord_share=0.1, fanout=3
    ),
}
ARCHIVE_ROWS = 2_000
# open loop: one request every ARRIVAL_INTERVAL_S, which keeps the single
# worker 50-65 % busy on the commit that introduced the benchmark
ARRIVAL_INTERVAL_S = 0.8
# share of each request kind (first-seen, republished, repeat, list, csw, geoapi)
MIX = {"first": 0.35, "republish": 0.2, "repeat": 0.3, "list": 0.05, "csw": 0.05, "geoapi": 0.05}


class FakeIpt:
    """Generated RSS/EML/archive bytes behind ``IptClient.fetch``."""

    def __init__(self, seed: int):
        self.seed = seed
        self.titles: dict[str, str] = {}
        self.versions: dict[str, int] = {}
        self.archives: dict[str, bytes] = {}
        self._eml: dict[str, bytes] = {}
        self._rss: bytes | None = None
        self._lock = threading.Lock()
        self.on_fetch = None  # (kind, nbytes) callback, set by the tracer

    def add(self, rid: str, title: str, archive: bytes | None = None) -> None:
        self.titles[rid] = title
        self.versions[rid] = 1
        if archive is not None:
            self.archives[rid] = archive
        self._rss = None

    def publish(self, rid: str) -> int:
        """Bump a dataset's version (a republication)."""
        with self._lock:
            self.versions[rid] += 1
            self._eml.pop(rid, None)
            self._rss = None
            return self.versions[rid]

    def fetch(self, url: str) -> bytes:
        with self._lock:
            if url.endswith("/rss"):
                kind = "rss"
                if self._rss is None:
                    self._rss = gen.rss(IPT_URL, [
                        (rid, t, str(self.versions[rid])) for rid, t in self.titles.items()
                    ])
                data = self._rss
            elif "/archive.do?" in url:
                kind = "archive"
                data = self.archives[url.split("r=", 1)[1].split("&", 1)[0]]
            else:
                kind = "eml"
                rid = url.split("r=", 1)[1]
                if rid not in self._eml:
                    self._eml[rid] = gen.eml(
                        rid, self.titles[rid], str(self.versions[rid]), self.seed
                    )
                data = self._eml[rid]
        if self.on_fetch is not None:
            self.on_fetch(kind, len(data))
        return data


def check_conversion(spark, versioned: str, latest: str, exp: gen.Expected) -> list[str]:
    """Row count, fid set, sampled geom and latest-alias identity."""
    from pyspark.sql import functions as F

    errors = []
    df = spark.read.parquet(versioned)
    n, n_fid, fid_sum = df.agg(
        F.count("*"), F.countDistinct("fid"), F.sum("fid")
    ).first()
    if (n, n_fid, fid_sum) != (exp.rows, exp.fid_count, exp.fid_sum):
        errors.append(
            f"{versioned}: rows/fids/fid-sum {(n, n_fid, fid_sum)} != "
            f"{(exp.rows, exp.fid_count, exp.fid_sum)}"
        )
    got = df.filter(F.col("fid").isin(list(exp.geom))).select("fid", "geom").collect()
    bad = [(r.fid, r.geom) for r in got if r.geom != exp.geom[r.fid]]
    if bad or {r.fid for r in got} != set(exp.geom):
        errors.append(f"{versioned}: geom mismatch on sampled fids {bad[:3]}")
    if Path(versioned).read_bytes() != Path(latest).read_bytes():
        errors.append(f"{latest}: latest alias differs from {versioned}")
    return errors


@dataclass
class Result:
    """What a workload hands back for metrics and correctness."""

    latencies: list[float]  # per operation, seconds
    # per operation, the time the single worker spent on it (queue wait
    # excluded); the latencies themselves in a closed loop
    service: list[float]
    # the typical service time per operation, from medians over the whole
    # window so that a stalled operation does not move it
    op_service_s: float
    attempted: int
    failed: int
    errors: list[str]
    window: tuple[float, float]  # perf_counter
    epoch_window: tuple[float, float]  # time.time(), for the event log
    # time within the window spent on the workload's operations, not on the
    # benchmark's own checks: the denominator of the traced busy shares
    busy_s: float
    detail: dict[str, float] = field(default_factory=dict)
    ops: int = 0  # operations in the window: divides the per-layer metrics


def _service(spark, work: Path, ipt: FakeIpt):
    from dwca_parquet_spark.plans.csw import CatalogConfig
    from dwca_parquet_spark.service import JobQueue, ResourceService, ServiceConfig
    from dwca_parquet_spark.sources.ipt import IptClient

    cfg = ServiceConfig(
        catalog=CatalogConfig(ipt_url=IPT_URL),
        store=str(work / "store"),
        staging_dir=str(work / "staging"),
    )
    (work / "staging").mkdir(parents=True, exist_ok=True)
    return ResourceService(spark, IptClient(IPT_URL, fetch=ipt.fetch), cfg, jobs=JobQueue())


def _count_fetches(ipt: FakeIpt, tracer) -> None:
    if tracer is not None:
        def on_fetch(kind: str, nbytes: int) -> None:
            tracer.count(f"fetch.{kind}")
            tracer.count(f"fetch_bytes.{kind}", nbytes)

        ipt.on_fetch = on_fetch


def _size(*paths: str) -> int:
    return sum(Path(p).stat().st_size for p in paths)


def _job(svc, job_id: int):
    return next(j for j in reversed(svc.jobs.jobs) if j.id == job_id)


def convert_large(spark, work: Path, seed: int, seconds: float, log, tracer=None,
                  on_start=lambda: None) -> Result:
    ipt = FakeIpt(seed)
    _count_fetches(ipt, tracer)
    zpath = work / "large.zip"
    exp = gen.write_archive(zpath, LARGE, seed)
    ipt.add("large", "Large occurrence archive", zpath.read_bytes())
    # the warm-up converts a smaller archive of the same shape
    wpath = work / "warm.zip"
    warm_exp = gen.write_archive(wpath, replace(LARGE, n_core=WARMUP_LARGE_ROWS), seed + 1)
    ipt.add("warm", "Warm-up archive", wpath.read_bytes())
    svc = _service(spark, work, ipt)
    log(f"convert_large: {LARGE.n_core} core rows -> {exp.rows} output rows, "
        f"{exp.csv_bytes} CSV bytes, {len(ipt.archives['large'])} zip bytes")

    def convert(rid: str = "large") -> tuple[float, list[str], tuple]:
        t0 = time.perf_counter()
        resp = svc.get_resource(rid)
        job = _job(svc, resp["job_id"]).wait(600)
        dt = time.perf_counter() - t0
        if job.status != "done" or job.result is None:
            return dt, [f"job {job.id} {job.status}: {job.error}"], ()
        return dt, [], job.result

    _, errors, paths = convert("warm")
    if not errors:
        errors = check_conversion(spark, *paths, warm_exp)
    latencies, failed, attempted = [], int(bool(errors)), 1
    ratios = []
    on_start()
    t_start, e_start = time.perf_counter(), time.time()
    while not latencies or time.perf_counter() - t_start < seconds:
        ipt.publish("large")
        dt, errs, paths = convert()
        t_end, e_end = time.perf_counter(), time.time()
        attempted += 1
        if not errs:
            errs = check_conversion(spark, *paths, exp)
            ratios.append(_size(*paths) / exp.csv_bytes)
        if errs:
            failed += 1
            errors.extend(errs)
        latencies.append(dt)
    p50 = statistics.median(latencies)
    return Result(
        latencies, latencies, p50, attempted, failed, errors, (t_start, t_end), (e_start, e_end),
        sum(latencies),
        detail={
            "convert_rows_per_s": exp.rows / p50,
            "bytes_out_per_byte_in": statistics.median(ratios) if ratios else 0.0,
            "bytes_written": sum(ratios) * exp.csv_bytes,
            "output_rows": exp.rows,
            "csv_bytes": exp.csv_bytes,
        },
        ops=len(latencies),
    )


@dataclass
class Request:
    due: float  # seconds after the window start
    kind: str
    rid: str | None = None
    version: int = 0
    sent: float = 0.0
    acked: float = 0.0
    status: int = 0
    body: dict = field(default_factory=dict)
    job: object = None
    done: float = 0.0
    before: tuple | None = None  # versioned file (mtime, size) for repeats
    out_bytes: int = 0
    errors: list[str] = field(default_factory=list)


def _schedule(rng: np.random.Generator, seconds: float) -> list[Request]:
    """Evenly spaced arrivals. The count of each kind is fixed by ``MIX``
    (largest remainder) and each kind is spread evenly over the window, at
    its own phase, so the queueing a run sees does not hinge on where its
    seed puts the slow catalog jobs; the seed breaks ties."""
    n = max(int(seconds / ARRIVAL_INTERVAL_S), 1)
    exact = {k: share * n for k, share in MIX.items()}
    counts = {k: int(v) for k, v in exact.items()}
    for k in sorted(exact, key=lambda k: counts[k] - exact[k])[: n - sum(counts.values())]:
        counts[k] += 1
    phase = {k: (i + 0.5) / len(MIX) for i, k in enumerate(MIX)}
    slots = sorted(
        ((j + phase[k]) * n / c, rng.random(), k)
        for k, c in counts.items() for j in range(c)
    )
    return [Request(i * ARRIVAL_INTERVAL_S, k) for i, (_, _, k) in enumerate(slots)]


def service_mix(spark, work: Path, seed: int, seconds: float, log, tracer=None,
                on_start=lambda: None) -> Result:
    from dwca_parquet_spark.httpd import API_PREFIX, serve

    rng = np.random.default_rng(seed)
    reqs = _schedule(rng, seconds)
    ipt = FakeIpt(seed)
    _count_fetches(ipt, tracer)
    # archives for the warm-up (one per shape) and for each first-seen request
    n_first = sum(r.kind == "first" for r in reqs)
    shapes = list(SHAPES)
    picks = [(f"{s}-warm", s) for s in shapes]
    for i in range(n_first):
        if i % len(shapes) == 0:
            order = rng.permutation(shapes).tolist()
        picks.append((f"{order[i % len(shapes)]}-{i}", order[i % len(shapes)]))
    expected: dict[str, gen.Expected] = {}
    for rid, shape in picks:
        z = work / f"{rid}.zip"
        spec = replace(SHAPES[shape], n_core=ARCHIVE_ROWS)
        expected[rid] = gen.write_archive(z, spec, seed * 1000 + len(expected))
        ipt.add(rid, f"{shape} archive", z.read_bytes())
    warm = [rid for rid, _ in picks[: len(shapes)]]
    fresh = [rid for rid, _ in reversed(picks[len(shapes):])]
    csv_bytes = sum(e.csv_bytes for e in expected.values())
    for i in range(CATALOG_SIZE - len(ipt.titles)):
        ipt.add(f"cat{i:05d}", f"Catalog dataset {i}")
    svc = _service(spark, work, ipt)
    resources = Path(svc.cfg.resources_base)
    log(f"service_mix: catalog {CATALOG_SIZE} datasets, {len(expected)} with archives "
        f"of {ARCHIVE_ROWS} core rows in {len(SHAPES)} shapes, {csv_bytes} CSV bytes; "
        f"{len(reqs)} requests, one per {ARRIVAL_INTERVAL_S} s")

    # warm-up, untimed: each archive shape converted and then requested again
    # (the skip); each catalog job once
    errors: list[str] = []
    warm_jobs = [_job(svc, svc.get_resource(rid)["job_id"]) for rid in warm]
    warm_jobs += [_job(svc, svc.generate_csw()["job_id"]),
                  _job(svc, svc.generate_geoapi()["job_id"])]
    for job in warm_jobs:
        job.wait(600)
    skips = {svc.get_resource(rid)["job_id"] for rid in warm}
    warm_jobs += [_job(svc, i) for i in skips]
    warm_failed = 0
    for job in warm_jobs:
        if job.wait(600).status != "done" or (job.id in skips and job.result is not None):
            warm_failed += 1
            errors.append(f"warm-up job {job.name} {job.status}: {job.error}")
    # latest requested version per dataset (in first-request order), and the
    # latest one converted: a repeat targets only a dataset whose requested
    # version is on disk. Targets rotate rather than being drawn at random.
    converted = {rid: ipt.versions[rid] for rid in warm}
    done = dict(converted)
    n_kind = dict.fromkeys(MIX, 0)

    httpd = serve(svc)
    base = f"http://127.0.0.1:{httpd.server_address[1]}{API_PREFIX}"
    pending: queue.Queue = queue.Queue()

    def collect() -> None:
        while (req := pending.get()) is not None:
            if req.job is None:
                continue
            req.job.wait(900)
            req.done = time.perf_counter()
            job = req.job
            if job.status != "done":
                req.errors.append(f"{req.kind} job {job.id} {job.status}: {job.error}")
            elif req.kind == "repeat":
                if job.result is not None:
                    req.errors.append(f"repeat of {req.rid} v{req.version} was not skipped")
            elif req.kind == "csw":
                req.out_bytes = _size(job.result)
                n = pq.read_metadata(job.result).num_rows
                if n != CATALOG_SIZE:
                    req.errors.append(f"csw records {n} != {CATALOG_SIZE}")
            elif req.kind == "geoapi":
                req.out_bytes = _size(job.result)
                n = len(json.loads(Path(job.result).read_text()))
                if n != CATALOG_SIZE:
                    req.errors.append(f"geoapi resources {n} != {CATALOG_SIZE}")
            elif job.result is None:
                req.errors.append(f"{req.kind} of {req.rid} v{req.version} skipped")
            else:
                done[req.rid] = max(done.get(req.rid, 0), req.version)

    collector = threading.Thread(target=collect, daemon=True)
    collector.start()
    on_start()
    t_start, e_start = time.perf_counter(), time.time()
    try:
        for req in reqs:
            if req.kind == "first":
                req.rid = fresh.pop()
                converted[req.rid] = req.version = ipt.versions[req.rid]
            elif req.kind == "republish":
                req.rid = list(converted)[n_kind[req.kind] % len(converted)]
                converted[req.rid] = req.version = ipt.publish(req.rid)
            elif req.kind == "repeat":
                ready = [r for r, v in converted.items() if done.get(r) == v]
                req.rid = ready[-1 - n_kind[req.kind] % min(3, len(ready))]
                req.version = converted[req.rid]
                vpath = resources / req.rid / f"v{req.version}.parquet"
                st = vpath.stat()
                req.before = (st.st_mtime_ns, st.st_size)
            n_kind[req.kind] += 1
            method, path = {
                "list": ("GET", "/resources"),
                "csw": ("POST", "/resources/csw"),
                "geoapi": ("POST", "/resources/geoapi"),
            }.get(req.kind, ("GET", f"/resources/{req.rid}"))
            delay = t_start + req.due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            req.sent = time.perf_counter()
            r = urllib.request.Request(base + path, method=method, data=b"" if method == "POST" else None)
            try:
                with urllib.request.urlopen(r, timeout=120) as resp:
                    req.status = resp.status
                    req.body = json.loads(resp.read())
            except urllib.error.HTTPError as exc:
                req.status = exc.code
            req.acked = time.perf_counter()
            if "job_id" in req.body:
                req.job = _job(svc, req.body["job_id"])
            pending.put(req)
        t_sent = time.perf_counter()
    finally:
        pending.put(None)
        collector.join(900)
        httpd.shutdown()
        httpd.server_close()
    # the window closes when the last job is done
    t_end, e_end = time.perf_counter(), time.time()

    # deferred (Spark-side) checks of every conversion the window produced
    for req in reqs:
        if req.status != 200:
            req.errors.append(f"{req.kind} HTTP {req.status}")
        if req.kind == "list" and len(req.body.get("resources", [])) != CATALOG_SIZE:
            req.errors.append("resource list size wrong")
        if req.kind in ("first", "republish", "repeat"):
            if req.body.get("version") != str(req.version):
                req.errors.append(f"{req.rid}: version {req.body.get('version')} != {req.version}")
        if req.kind == "repeat" and req.before is not None:
            st = (resources / req.rid / f"v{req.version}.parquet").stat()
            if (st.st_mtime_ns, st.st_size) != req.before:
                req.errors.append(f"repeat of {req.rid} rewrote its output")
        if req.kind in ("first", "republish") and req.job is not None and req.job.result:
            req.errors.extend(check_conversion(spark, *req.job.result, expected[req.rid]))

    jobs = [r for r in reqs if r.job is not None]
    lat = [r.done - (t_start + r.due) for r in jobs]
    # the worker is FIFO: a job starts when it is enqueued (before the HTTP
    # response) or when the job before it finishes, whichever is later
    service, prev_done = [], 0.0
    per_kind: dict[str, list[float]] = {}
    for r in sorted(jobs, key=lambda r: r.job.id):
        service.append(r.done - max(r.acked, prev_done))
        per_kind.setdefault(r.kind, []).append(service[-1])
        prev_done = r.done
    # each kind's median service time, weighted by the kind's (fixed) count
    op_service_s = sum(statistics.median(v) * len(v) for v in per_kind.values()) / len(jobs)
    by_kind = lambda *ks: [r.done - (t_start + r.due) for r in jobs if r.kind in ks]  # noqa: E731
    acks = [(r.acked - (t_start + r.due)) * 1e3 for r in reqs]
    late = [r.sent - (t_start + r.due) for r in reqs]
    conv = [r for r in jobs if r.kind in ("first", "republish") and r.job.result]
    out_bytes = sum(_size(*r.job.result) for r in conv)
    in_bytes = sum(expected[r.rid].csv_bytes for r in conv)
    log("  job latency in arrival order (s): " + " ".join(
        f"{r.kind}:{r.done - (t_start + r.due):.2f}" for r in jobs))
    failed = sum(1 for r in reqs if r.errors)
    errors += [e for r in reqs for e in r.errors]
    q = lambda xs, p: float(np.quantile(xs, p)) if xs else 0.0  # noqa: E731
    return Result(
        lat, service, op_service_s, len(reqs) + len(warm_jobs), failed + warm_failed, errors,
        (t_start, t_end), (e_start, e_end), t_end - t_start,
        detail={
            "job_p50_s": q(lat, 0.5),
            "job_p90_s": q(lat, 0.9),
            "jobs": len(lat),
            "skip_p50_s": q(by_kind("repeat"), 0.5),
            "catalog_job_p50_s": q(by_kind("csw", "geoapi"), 0.5),
            "ack_p50_ms": q(acks, 0.5),
            "bytes_out_per_byte_in": out_bytes / in_bytes if in_bytes else 0.0,
            "generator_late_max_s": max(late) if late else 0.0,
            "drain_s": t_end - t_sent,
            "bytes_written": out_bytes + sum(
                r.out_bytes for r in jobs if r.kind in ("csw", "geoapi")),
            "requests": len(reqs),
        },
        ops=len(reqs),
    )
