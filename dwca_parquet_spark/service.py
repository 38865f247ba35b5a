"""Service/orchestration shell: the reference's resource API, Spark-side.

Mirrors ``/root/reference/src/dwca_parquet/routers/resources.py:19-75`` and
its RQ job model (``dependencies.py:33-34``) without any web framework
(FastAPI/Redis/RQ are not available and are not the semantics):

- ``list_resources``      ⇔ ``GET  /resources``            (``resources.py:20-27``)
- ``get_resource``        ⇔ ``GET  /resources/{id}``       (``resources.py:45-75``)
- ``generate_csw``        ⇔ ``POST /resources/csw``        (``resources.py:29-34``)
- ``generate_geoapi``     ⇔ ``POST /resources/geoapi``     (``resources.py:37-42``)

Each mutating endpoint ENQUEUES work and returns immediately with the
output URL, exactly like the reference's ``q.enqueue(...)``; ``JobQueue``
is a single-worker in-process queue with the same at-least-once +
idempotent-job contract (idempotency lives in the jobs themselves via
filesystem existence probes, reference ``libs/parquet.py:33``). On a real
deployment the queue would be external (the reference uses Redis+RQ); the
job functions are plain callables so they can be handed to any such
executor unchanged — the Spark driver is the worker either way, and the
heavy lifting inside each job is a distributed Spark plan, not driver code.

Jobs:
- ``job_version_to_parquet`` ⇔ ``libs/parquet.py:20-56``: probe, then
  fetch. The job first probes the versioned output on the target
  filesystem (``:33``) and returns None if it exists; only then does it
  fetch the DwC-A (``:35-42``), flatten (star join) and write versioned +
  latest parquet. A repeat request costs one metadata probe.
- ``job_csw``    ⇔ ``libs/csw.py:104-113``: harvest → 21-col record table
  → parquet at ``cfg.csw_output``.
- ``job_geoapi`` ⇔ ``libs/geoapi.py:68-75``: harvest → pygeoapi configs →
  single JSON-array file at ``cfg.geoapi_output``.
"""

from __future__ import annotations

import itertools
import queue as _queue
import re
import tempfile
import threading
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import SparkSession

from dwca_parquet_spark.fs import FS
from dwca_parquet_spark.plans.csw import (
    CatalogConfig,
    eml_to_csw_records,
    harvest_rows,
)
from dwca_parquet_spark.plans.flatten import dwca_flatten
from dwca_parquet_spark.plans.geoapi import (
    harvest_geoapi_rows,
    ipt_to_pygeoapi_resources,
)
from dwca_parquet_spark.sinks.jsonarray import write_json_array
from dwca_parquet_spark.sinks.parquet import (
    versioned_paths,
    write_parquet,
    write_versioned,
)
from dwca_parquet_spark.sources.dwca import read_dwca
from dwca_parquet_spark.sources.ipt import IptClient, parse_eml, version_from


# An IPT resource shortname: letters, digits, ``_`` and ``-``. Nothing
# else may reach ``eml.do?r={id}`` or ``versioned_paths``.
_RESOURCE_ID = re.compile(r"[A-Za-z0-9_-]+", re.ASCII)


class InvalidResourceId(ValueError):
    """A resource id outside the IPT shortname form (HTTP 400)."""


@dataclass
class ServiceConfig:
    """Deployment knobs (mirror of reference ``settings.py``).

    ``store`` is the output base — a local directory in tests, an
    ``s3a://bucket`` URI on a deployment (all sinks are scheme-agnostic,
    see dwca_parquet_spark.fs).
    """

    catalog: CatalogConfig = field(default_factory=CatalogConfig)
    store: str = "/tmp/dwca-parquet-store"
    csw_path: str = "/catalog/records.parquet"
    geoapi_path: str = "/catalog/resources.json"
    staging_dir: str | None = None  # None → fresh tempdir per job

    @property
    def resources_base(self) -> str:
        return self.store.rstrip("/") + self.catalog.resources_prefix.rstrip("/")

    @property
    def csw_output(self) -> str:
        return self.store.rstrip("/") + self.csw_path

    @property
    def geoapi_output(self) -> str:
        return self.store.rstrip("/") + self.geoapi_path


@dataclass
class Job:
    id: int
    name: str
    status: str = "queued"  # queued | running | done | failed
    result: Any = None
    error: str | None = None
    _done: threading.Event = field(default_factory=threading.Event, repr=False)

    def wait(self, timeout: float | None = None) -> "Job":
        if not self._done.wait(timeout):
            raise TimeoutError(f"job {self.id} ({self.name}) still {self.status}")
        return self


class JobQueue:
    """Single-worker in-process job queue (the RQ stand-in).

    One worker because each job is itself a distributed Spark computation;
    queuing serializes cluster use the same way the reference's single RQ
    worker does. ``inline=True`` executes synchronously (test/debug mode).
    """

    def __init__(self, inline: bool = False):
        self._inline = inline
        self._ids = itertools.count(1)
        self.jobs: list[Job] = []
        if not inline:
            self._q: _queue.Queue = _queue.Queue()
            self._worker = threading.Thread(target=self._run, daemon=True)
            self._worker.start()

    def enqueue(self, fn: Callable[..., Any], *args: Any) -> Job:
        job = Job(id=next(self._ids), name=getattr(fn, "__name__", str(fn)))
        self.jobs.append(job)
        if self._inline:
            self._execute(job, fn, args)
        else:
            self._q.put((job, fn, args))
        return job

    def _execute(self, job: Job, fn: Callable, args: tuple) -> None:
        job.status = "running"
        try:
            job.result = fn(*args)
            job.status = "done"
        except Exception:
            job.status = "failed"
            job.error = traceback.format_exc()
        finally:
            job._done.set()

    def _run(self) -> None:
        while True:
            job, fn, args = self._q.get()
            self._execute(job, fn, args)
            self._q.task_done()

    def join(self, timeout: float | None = None) -> None:
        for job in list(self.jobs):
            job.wait(timeout)


def job_version_to_parquet(
    spark: SparkSession,
    client: IptClient,
    cfg: ServiceConfig,
    resource_id: str,
    version: str,
) -> tuple[str, str] | None:
    """DwC-A → flattened occurrence parquet, versioned + latest.

    Reference ``libs/parquet.py:20-56``, in its order: probe, then fetch.
    The versioned output is probed on the store's filesystem first
    (``:33``); when it exists the job returns None at once, so a repeat
    costs one metadata call and no fetch, staging, Spark job or plan. Only
    a first-seen version fetches and stages the archive (``:35-42``).
    ``write_versioned`` keeps its own guard, which also covers a version
    written between the probe and the write. The probe is enough because
    the versioned file is committed last: ``write_versioned`` publishes the
    latest alias before it, so an existing versioned file means the alias
    was published too, and a crash before that commit leaves nothing for
    the probe to find. The reference's fixes are
    applied: the plan executes once (write + fs copy, not two executions),
    and the archive bytes go through the client's injectable fetch
    (mockable, same staging lifecycle — the cache zip is deleted in
    ``finally``)."""
    versioned, _ = versioned_paths(cfg.resources_base, resource_id, version)
    if FS(spark, versioned).exists(versioned):
        return None
    with tempfile.TemporaryDirectory(dir=cfg.staging_dir) as tmp:
        cache = Path(tmp) / f"{resource_id}-v{version}.zip"
        cache.write_bytes(client.archive(resource_id, version))
        archive, core_df, ext_dfs = read_dwca(spark, cache, Path(tmp) / "staging")
        flat = dwca_flatten(archive, core_df, ext_dfs)
        return write_versioned(flat, cfg.resources_base, resource_id, version)


def job_csw(spark: SparkSession, client: IptClient, cfg: ServiceConfig) -> str:
    records = eml_to_csw_records(spark, harvest_rows(client), cfg.catalog)
    return write_parquet(records, cfg.csw_output, single_file=True)


def job_geoapi(spark: SparkSession, client: IptClient, cfg: ServiceConfig) -> str:
    df = ipt_to_pygeoapi_resources(spark, harvest_geoapi_rows(client), cfg.catalog)
    return write_json_array(df, cfg.geoapi_output)


class ResourceService:
    """The four endpoints, as plain methods returning the reference's
    response shapes (URL fields keep the reference's key names so an
    HTTP layer put in front is a one-liner per route)."""

    def __init__(
        self,
        spark: SparkSession,
        client: IptClient,
        cfg: ServiceConfig | None = None,
        jobs: JobQueue | None = None,
    ):
        self.spark = spark
        self.client = client
        self.cfg = cfg or ServiceConfig()
        self.jobs = jobs or JobQueue()

    # GET /resources  (reference resources.py:20-27)
    def list_resources(self, base_url: str = "") -> dict:
        resources = [
            {**ds, "url": f"{base_url}resources/{ds['id']}"}
            for ds in self.client.datasets()
        ]
        return {"resources": resources}

    # GET /resources/{id}  (reference resources.py:45-75)
    def get_resource(self, resource_id: str) -> dict:
        """Raises InvalidResourceId (a ValueError) for an id outside the IPT
        shortname form, before it reaches an IPT URL or a store path."""
        if not _RESOURCE_ID.fullmatch(resource_id):
            raise InvalidResourceId(f"invalid resource id: {resource_id!r}")
        ipt = self.cfg.catalog.ipt_url
        meta = parse_eml(self.client.eml(resource_id))
        # reference: packageId "doi:…/vN" → version (resources.py:56-59)
        version = version_from(meta["metadata"]["identifier"], "1")
        job = self.jobs.enqueue(
            job_version_to_parquet,
            self.spark, self.client, self.cfg, resource_id, version,
        )
        return {
            "id": resource_id,
            "ipt_url": f"{ipt}/resource?r={resource_id}",
            "ipt_eml": f"{ipt}/eml.do?r={resource_id}",
            "ipt_dwca": f"{ipt}/archive.do?r={resource_id}",
            "meta": meta,
            "version": version,
            "parquet_url": versioned_paths(
                self.cfg.resources_base, resource_id, version
            )[1],
            "job_id": job.id,
        }

    # POST /resources/csw  (reference resources.py:29-34)
    def generate_csw(self) -> dict:
        job = self.jobs.enqueue(job_csw, self.spark, self.client, self.cfg)
        return {
            "result": self.cfg.csw_output,
            "job_id": job.id,
        }

    # POST /resources/geoapi  (reference resources.py:37-42)
    def generate_geoapi(self) -> dict:
        job = self.jobs.enqueue(job_geoapi, self.spark, self.client, self.cfg)
        return {
            "result": self.cfg.geoapi_output,
            "job_id": job.id,
        }
