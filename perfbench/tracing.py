"""Benchmark-side tracing: spans around calls into the program's layers.

Spans are recorded by wrapping module attributes of the program from the
benchmark (the program itself is not instrumented). Each span has a name,
start, end, parent and root; a root span is one job or one request, and
every span below it shares its root id. Counters recorded inside a span
are attributed to its root too, so per-job ratios (for example archive
fetches made by skipped jobs) are measured where the work happens.

Spark work is attributed to spans through a thread-local Spark property
set on span entry; the engine counters come from the session's event log,
parsed after the session stops.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

from query_mix import FAMILIES, MIX

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    root: int
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans and counters in memory; ``restore`` undoes every patch."""

    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self.root_counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []
        self._sc = spark_context

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def enter(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        span = Span(sid, name, parent.id if parent else None,
                    parent.root if parent else sid, time.perf_counter())
        stack.append(span)
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, f"{span.root}:{name}")
        return span

    def exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if self._sc is not None:
            parent = stack[-1] if stack else None
            self._sc.setLocalProperty(
                SPAN_PROPERTY, f"{parent.root}:{parent.name}" if parent else None
            )
        with self._lock:
            self.spans.append(span)

    def count(self, name: str, n: float = 1) -> None:
        span = self.current()
        if span is not None:
            with self._lock:
                self.root_counts[span.root][name] += n

    def traced(self, name: str, fn: Callable, **attrs: Any) -> Callable:
        """``fn`` wrapped in a span named ``name`` carrying ``attrs``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self.enter(name)
            span.attrs.update(attrs)
            try:
                out = fn(*args, **kwargs)
                span.attrs["result_none"] = out is None
                return out
            except Exception:
                span.attrs["failed"] = True
                raise
            finally:
                self.exit(span)

        return wrapper

    def patch(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``restore``."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.traced(name, original))

    def patch_with(self, owner: Any, attr: str, make: Callable[[Callable], Callable]) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # --- aggregation ---------------------------------------------------------

    def in_window(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if t0 <= s.start < t1]

    @staticmethod
    def self_times(spans: list[Span]) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        child = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.id: s.dur - child[s.id] for s in spans}


def install_service_spans(tracer: Tracer) -> None:
    """Wrap the module attributes the service and its jobs call through."""
    from dwca_parquet_spark import fs, service
    from dwca_parquet_spark.plans import geoapi
    from dwca_parquet_spark.sinks import parquet
    from dwca_parquet_spark.sources import dwca, ipt

    tracer.patch(dwca, "stage_archive", "sources.stage_archive")
    tracer.patch(dwca, "parse_meta", "sources.parse_meta")
    tracer.patch(dwca, "read_layer", "sources.read_layer")
    tracer.patch(service, "read_dwca", "sources.read_dwca")
    tracer.patch(ipt, "parse_rss", "sources.parse_rss")
    for owner in (ipt, service, geoapi):
        tracer.patch(owner, "parse_eml", "sources.parse_eml")
    tracer.patch(service, "dwca_flatten", "plans.dwca_flatten")
    tracer.patch(service, "harvest_rows", "plans.harvest_rows")
    tracer.patch(service, "harvest_geoapi_rows", "plans.harvest_geoapi_rows")
    tracer.patch(service, "eml_to_csw_records", "plans.eml_to_csw_records")
    tracer.patch(service, "ipt_to_pygeoapi_resources", "plans.ipt_to_pygeoapi_resources")
    tracer.patch(service, "write_versioned", "sinks.write_versioned")
    tracer.patch(service, "write_parquet", "sinks.write_parquet")
    tracer.patch(parquet, "write_parquet", "sinks.write_parquet")
    tracer.patch(service, "write_json_array", "sinks.write_json_array")
    tracer.patch(fs.FS, "copy", "sinks.fs_copy")

    def counting_exists(original):
        @functools.wraps(original)
        def exists(self, p):
            tracer.count("sinks.fs_exists_calls")
            return original(self, p)

        return exists

    tracer.patch_with(fs.FS, "exists", counting_exists)

    def timed_enqueue(original):
        @functools.wraps(original)
        def enqueue(self, fn, *args):
            run = tracer.traced(f"service.job.{fn.__name__}", fn, queued=time.perf_counter())
            return original(self, run, *args)

        return enqueue

    tracer.patch_with(service.JobQueue, "enqueue", timed_enqueue)
    for route in ROUTES:
        tracer.patch(service.ResourceService, route, f"httpd.{route}")


ROUTES = ("list_resources", "get_resource", "generate_csw", "generate_geoapi")
JOB_FNS = ("job_version_to_parquet", "job_csw", "job_geoapi")

def layer_metrics(per_layer: list[dict], res, tracer: Tracer, jobs: list[SparkJob],
                  cores: int, extra: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Aggregate the window's spans, counters and Spark jobs into the
    ``per_layer`` metrics of BENCHMARK.json. Times and counts are per
    operation of the workload (a conversion, a request, a pass over the
    query mix) unless the name says otherwise; a layer the workload does not
    use reads 0."""
    t0, t1 = res.window
    spans = tracer.in_window(t0, t1)
    ops = max(res.ops, 1)
    total: dict[str, float] = defaultdict(float)
    for s in spans:
        total[s.name] += s.dur
    roots = {s.id for s in spans if s.parent is None}
    counts: dict[str, float] = defaultdict(float)
    for rid in roots:
        for k, v in tracer.root_counts.get(rid, {}).items():
            counts[k] += v
    job_spans = [s for s in spans if s.name.startswith("service.job.")]
    skips = {s.id for s in job_spans
             if s.name.endswith("job_version_to_parquet") and s.attrs.get("result_none")}
    self_t = Tracer.self_times(spans)

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    e0, e1 = res.epoch_window[0] * 1000, res.epoch_window[1] * 1000
    win_jobs = [j for j in jobs if j.span and e0 <= j.submitted_ms <= e1]

    def under(step: str) -> list[SparkJob]:
        return [j for j in win_jobs if j.span.endswith(":" + step)]

    # a write runs its broadcast jobs first; its last job is the write itself
    writes: dict[str, SparkJob] = {}
    for j in under("sinks.write_parquet"):
        if j.span not in writes or j.id > writes[j.span].id:
            writes[j.span] = j
    fetches = [k for k in counts if k.startswith("fetch.")]
    m: dict[str, float] = {
        **extra,
        "sources.stage_archive_s": total["sources.stage_archive"] / ops,
        "sources.parse_meta_s": total["sources.parse_meta"] / ops,
        "sources.read_layer_s": total["sources.read_layer"] / ops,
        "sources.bytes_staged": counts["fetch_bytes.archive"] / ops,
        "sources.ipt_fetches": sum(counts[k] for k in fetches) / ops,
        "sources.ipt_fetch_bytes": sum(
            v for k, v in counts.items() if k.startswith("fetch_bytes.")) / ops,
        "sources.skip_archive_fetches": sum(
            tracer.root_counts.get(r, {}).get("fetch.archive", 0) for r in skips
        ) / max(len(skips), 1),
        "sources.skip_read_layer_s": sum(
            s.dur for s in spans if s.root in skips and s.name == "sources.read_layer"
        ) / max(len(skips), 1),
        "sources.parse_eml_s": total["sources.parse_eml"] / ops,
        "sources.parse_rss_s": total["sources.parse_rss"] / ops,
        "plans.dwca_flatten_s": total["plans.dwca_flatten"] / ops,
        "plans.harvest_rows_s": total["plans.harvest_rows"] / ops,
        "plans.harvest_geoapi_rows_s": total["plans.harvest_geoapi_rows"] / ops,
        "plans.eml_to_csw_records_s": total["plans.eml_to_csw_records"] / ops,
        "plans.ipt_to_pygeoapi_resources_s": total["plans.ipt_to_pygeoapi_resources"] / ops,
        "sinks.write_versioned_s": total["sinks.write_versioned"] / ops,
        "sinks.write_parquet_s": total["sinks.write_parquet"] / ops,
        "sinks.fs_copy_s": total["sinks.fs_copy"] / ops,
        "sinks.fs_exists_calls": counts["sinks.fs_exists_calls"] / ops,
        "sinks.bytes_written": res.detail.get("bytes_written", 0.0) / ops,
        "sinks.write_json_array_s": total["sinks.write_json_array"] / ops,
        "service.queue_wait_s": mean([s.start - s.attrs["queued"] for s in job_spans]),
        **{
            f"service.job_run_s.{f}": mean(
                [s.dur for s in job_spans if s.name == f"service.job.{f}"])
            for f in JOB_FNS
        },
        "service.job_self_s": mean([self_t[s.id] for s in job_spans]),
        "service.worker_busy_share": sum(s.dur for s in job_spans) / res.busy_s,
        "service.jobs_skipped": len(skips),
        "service.jobs_failed": sum(1 for s in job_spans if s.attrs.get("failed")),
        **{
            f"httpd.request_s.{r}": mean([s.dur for s in spans if s.name == f"httpd.{r}"])
            for r in ROUTES
        },
        **{f"queries.{q}_s": res.detail.get(f"queries.{q}_s", 0.0) for q in MIX},
        **{f"operators.{f}_s": res.detail.get(f"operators.{f}_s", 0.0) for f in FAMILIES},
        "spark.jobs": len(win_jobs) / ops,
        "spark.tasks": sum(j.tasks for j in win_jobs) / ops,
        "spark.write_stage_tasks": mean([j.final_stage_tasks for j in writes.values()]),
        "spark.executor_run_s": sum(j.run_ms for j in win_jobs) / 1000 / ops,
        "spark.core_utilization": sum(j.run_ms for j in win_jobs) / 1000 / (res.busy_s * cores),
        "spark.shuffle_write_bytes": sum(j.shuffle_write for j in win_jobs) / ops,
        "spark.spill_bytes": sum(j.spill for j in win_jobs) / ops,
        "spark.read_layer_jobs": len(under("sources.read_layer")) / ops,
        "spark.read_layer_tasks": sum(j.tasks for j in under("sources.read_layer")) / ops,
        "spark.write_parquet_jobs": len(under("sinks.write_parquet")) / ops,
        "spark.write_parquet_tasks": sum(j.tasks for j in under("sinks.write_parquet")) / ops,
    }
    for key in ("convert_rows_per_s", "bytes_out_per_byte_in", "job_p50_s", "job_p90_s",
                "jobs", "skip_p50_s", "catalog_job_p50_s", "ack_p50_ms",
                "generator_late_max_s", "query_mix_pass_s", "query_p50_s", "error_rate"):
        m[f"workload.{key}"] = res.detail.get(key, 0.0)
    return {p["name"]: (float(m[p["name"]]), p["unit"]) for p in per_layer}


def breakdown(m: dict[str, tuple[float, str]]) -> list[str]:
    """One conversion job, step by step, with its Spark work."""
    steps = [
        ("stage_archive", "sources.stage_archive_s", None),
        ("parse_meta", "sources.parse_meta_s", None),
        ("read_layer", "sources.read_layer_s", "read_layer"),
        ("dwca_flatten", "plans.dwca_flatten_s", None),
        ("write_parquet", "sinks.write_parquet_s", "write_parquet"),
        ("fs_copy", "sinks.fs_copy_s", None),
    ]
    lines = ["per-operation breakdown (traced):"]
    for label, key, spark_key in steps:
        jobs = m[f"spark.{spark_key}_jobs"][0] if spark_key else 0.0
        tasks = m[f"spark.{spark_key}_tasks"][0] if spark_key else 0.0
        lines.append(f"  {label:<14} {m[key][0]:8.3f} s  spark jobs {jobs:5.1f}  tasks {tasks:6.1f}")
    lines.append(f"  write stage tasks {m['spark.write_stage_tasks'][0]:.1f}, "
                 f"skip jobs: archive fetches {m['sources.skip_archive_fetches'][0]:.1f}, "
                 f"read_layer {m['sources.skip_read_layer_s'][0]:.3f} s")
    return lines


# --- Spark event log --------------------------------------------------------


@dataclass
class SparkJob:
    id: int
    submitted_ms: int
    span: str | None
    stages: list[int]
    tasks: int = 0
    run_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0
    final_stage_tasks: int = 0


def read_event_log(log_dir: Path, app_id: str) -> list[SparkJob]:
    """Jobs with their task counts and metrics, from one app's event log."""
    matches = sorted(log_dir.glob(f"{app_id}*"))
    if not matches:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    jobs: dict[int, SparkJob] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, int] = defaultdict(int)
    with open(matches[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = SparkJob(
                    ev["Job ID"], ev["Submission Time"], props.get(SPAN_PROPERTY),
                    list(ev["Stage IDs"]),
                )
                jobs[job.id] = job
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job.id
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                m = ev.get("Task Metrics") or {}
                job.tasks += 1
                stage_tasks[ev["Stage ID"]] += 1
                job.run_ms += m.get("Executor Run Time", 0)
                job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for job in jobs.values():
        ran = [sid for sid in job.stages if stage_tasks.get(sid)]
        job.final_stage_tasks = stage_tasks[max(ran)] if ran else 0
    return list(jobs.values())
