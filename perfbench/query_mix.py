"""The ``query_mix`` workload: a closed loop over registered analytics queries.

The tables are generated from a fixed seed, so the expected results can be
committed (``query_digests.json``, made by ``make_digests.py`` from the
DuckDB oracles); the run's ``--seed`` orders the mix in each pass.
"""

from __future__ import annotations

import hashlib
import json
import math
import statistics
import time
from pathlib import Path

import numpy as np

import gen
from service_load import Result

DATA_SEED = 20240501
DATA_SCALE = 2.0  # 12 000 lineitem rows; documents and embeddings stay at 500
DIGESTS = Path(__file__).with_name("query_digests.json")

# query → operator family (operators.<family>_s in the traced run)
MIX = {
    "q01_pricing_summary": "relational",
    "q11_window_funcs": "window_events",
    "q25_text_stats": "text",
    "q57_tfidf_top_terms": "text",
    "q30_minhash_lsh_pairs": "dedup",
    "q44_dedup_clusters": "dedup",
    "q33_knn_bruteforce": "similarity",
    "q36_ann_topk_lsh": "similarity",
    "q47_ivf_topk": "similarity",
}
FAMILIES = sorted(set(MIX.values()))


def canon_value(v) -> str:
    """Order-insensitive canonical form, as tests/test_correctness.py uses."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}" if abs(v) < 1e15 else repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon_value(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def make_tables(work: Path) -> Path:
    data = work / "tables"
    gen.query_tables(data, DATA_SEED, DATA_SCALE)
    return data


def xor_digest(df) -> int | None:
    """bench.py's materialization, keeping the value: every column of every
    row feeds one xxhash64, folded with bit_xor."""
    from pyspark.sql import functions as F

    return df.agg(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))).first()[0]


def query_mix(spark, work: Path, seed: int, seconds: float, log, tracer=None,
              on_start=lambda: None) -> Result:
    from dwca_parquet_spark import queries as Q

    expected = json.loads(DIGESTS.read_text())
    data = str(make_tables(work))
    rng = np.random.default_rng(seed)
    log(f"query_mix: {len(MIX)} queries over tables generated at scale {DATA_SCALE} "
        f"(seed {DATA_SEED}), order drawn per pass from seed {seed}")

    # untimed warm-up pass: compare each query with its oracle digest
    errors: list[str] = []
    failed = 0
    for name in MIX:
        df = Q.QUERIES[name](spark, data)
        rows = [tuple(r) for r in df.collect()]
        want = expected["queries"][name]
        got = {"rows": len(rows), "sha256": canon_digest(list(df.columns), rows)}
        if got != want:
            failed += 1
            errors.append(f"{name}: {got} != oracle {want}")

    # timed passes: every execution of a query must give the same digest.
    # Whole passes only, so every query is timed equally often.
    xor: dict[str, int | None] = {}
    latencies: list[float] = []
    passes: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in MIX}
    attempted = len(MIX)
    on_start()
    t_start, e_start = time.perf_counter(), time.time()
    while not passes or time.perf_counter() - t_start < seconds:
        p0 = time.perf_counter()
        for name in rng.permutation(list(MIX)).tolist():
            span = tracer.enter(f"queries.{name}") if tracer else None
            t0 = time.perf_counter()
            value = xor_digest(Q.QUERIES[name](spark, data))
            dt = time.perf_counter() - t0
            if span is not None:
                tracer.exit(span)
            attempted += 1
            if xor.setdefault(name, value) != value:
                failed += 1
                errors.append(f"{name}: digest {value} != first pass digest {xor[name]}")
            latencies.append(dt)
            per_query[name].append(dt)
        passes.append(time.perf_counter() - p0)
    t_end, e_end = time.perf_counter(), time.time()
    # the mean query time of a pass made of every query's median time
    op_service_s = statistics.fmean(statistics.median(v) for v in per_query.values())
    return Result(
        latencies, latencies, op_service_s, attempted, failed, errors, (t_start, t_end), (e_start, e_end),
        t_end - t_start,
        detail={
            "query_mix_pass_s": statistics.median(passes),
            "query_p50_s": statistics.median(latencies),
            "passes": len(passes),
            **{f"queries.{n}_s": statistics.median(v) for n, v in per_query.items()},
            **{
                f"operators.{f}_s": sum(
                    statistics.median(v) for n, v in per_query.items() if MIX[n] == f
                )
                for f in FAMILIES
            },
        },
        ops=len(passes),
    )
