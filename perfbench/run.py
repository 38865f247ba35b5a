"""Benchmark of the DwC-A conversion service and the analytics query path.

Run from the repository root:

    python3 perfbench/run.py --workload service_mix --seed 1 --seconds 16 --trace 0

Workloads (see perfbench/DESIGN.md for inputs and the reasons for each):
``service_mix`` and ``query_mix``, the two BENCHMARK.json lists, and
``convert_large``, which is run by hand (its traced run breaks one bulk
conversion down step by step). With ``--trace 0`` the
last stdout line is a JSON object with the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run instead.
Lines before it are a human-readable report. Every output the run times is
checked; ``failed`` counts operations with a failed check.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("convert_large", "service_mix", "query_mix")
# The program's default driver heap is 8g. The benchmark runs on hosts that
# share their memory, so it caps the heap at 2g. mem_mb counts the heap
# the program keeps live, which the cap bounds only when it is exceeded.
DRIVER_MEM = "2g"
SESSION_SAMPLES = 3
# metric names, units and the order they are printed in
SPEC = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())


def log(msg: str) -> None:
    print(msg, flush=True)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def canary(root: Path) -> list[float]:
    """bench.canary_sec in a child process, so its arrays stay out of this
    process's memory high-water mark."""
    out = subprocess.run(
        [sys.executable, "-c",
         "import json; from bench import canary_sec; print(json.dumps(canary_sec()))"],
        cwd=root, check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.splitlines()[-1])


def reset_hwm(*pids: int | str) -> None:
    """Reset each process's VmHWM to its current RSS."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Memory:
    """The program's memory over the timed window.

    The JVM's resident size is mostly heap its collector chose to commit,
    which varies by hundreds of MB between runs of the same work, and so does
    the heap left after any collection during the window, which holds
    garbage not yet collected and broadcasts Spark's cleaner has not yet
    dropped. The bounded figure is therefore the live heap the program
    retains when the window closes, once full collections stop freeing
    memory, plus the Python driver's high-water RSS over the window. Both
    high-water marks are reset when the window opens, so input generation
    and the warm-up do not count.
    """

    SIZE = re.compile(r"->\d+[KMG]\((\d+)([KMG])\)")
    MB = {"K": 1 / 1024, "M": 1, "G": 1024}

    def __init__(self, jvm_pid: int, gc_log: Path):
        self.jvm_pid, self.gc_log = jvm_pid, gc_log
        self.offset = 0  # size of the GC log when the window opened

    def start(self) -> None:
        reset_hwm("self", self.jvm_pid)
        self.offset = self.gc_log.stat().st_size

    @staticmethod
    def settled_live_mb(spark, rounds: int = 8) -> float:
        """Heap in use after a full collection, repeated a second apart until
        one frees less than 1 MB. Python's collector runs first each time:
        a JVM object stays referenced while a Python reference cycle holds
        its py4j handle. Freeing a query's broadcasts then takes Spark's
        cleaner a collection to notice them and another to reclaim them."""
        jvm = spark.sparkContext._jvm
        runtime = jvm.java.lang.Runtime.getRuntime()
        last = float("inf")
        for _ in range(rounds):
            gc.collect()
            jvm.java.lang.System.gc()
            used = (runtime.totalMemory() - runtime.freeMemory()) / 2**20
            if last - used < 1:
                break
            last = used
            time.sleep(1)
        return used

    def stop(self, spark) -> dict[str, float]:
        py, jvm = hwm_mb("self"), hwm_mb(self.jvm_pid)
        live = self.settled_live_mb(spark)
        with open(self.gc_log, encoding="utf-8") as f:
            f.seek(self.offset)
            committed = max(int(n) * self.MB[u] for n, u in self.SIZE.findall(f.read()))
        return {
            "mem_mb": py + live,
            "memory.python_hwm_mb": py,
            "memory.jvm_heap_live_mb": live,
            "memory.jvm_heap_committed_mb": committed,
            "memory.peak_rss_mb": py + jvm,
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    work = root / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # half the CPUs for Spark's task threads: the rest is for what runs beside
    # them (the Python driver and load generator, Python UDF workers, the
    # JVM's collector and compiler threads), so a run measures the program
    # rather than the scheduler
    cores = max(len(os.sched_getaffinity(0)) // 2, 1)
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    sys.path.insert(0, str(root))
    proc = None
    try:
        try:
            from pyspark import SparkConf, SparkContext

            from dwca_parquet_spark.session import get_spark
        except ImportError as exc:
            print(f"perfbench: the program is not importable from {root}: {exc}",
                  file=sys.stderr)
            return 2
        import query_mix
        import service_load
        import tracing

        t_imports = process_age_s()
        canary_pre = canary(root)

        # set-up: imports, JVM launch, then SESSION_SAMPLES session starts, each
        # to a finished first job. setup_s is what a fresh process pays: imports
        # + JVM + the first (cold) session start; a repeat of that would need a
        # new JVM per sample, so the restarts are reported per layer only
        t0 = time.perf_counter()
        SparkContext._ensure_initialized(conf=SparkConf().setAll([
            ("spark.driver.memory", DRIVER_MEM),
            ("spark.driver.extraJavaOptions",
             f"-Xlog:gc:file={work / 'gc.log'} -Djava.io.tmpdir={work / 'tmp'}"),
        ]))
        proc = SparkContext._gateway.proc
        t_jvm = time.perf_counter() - t0
        memory = Memory(proc.pid, work / "gc.log")
        conf = {
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # the status store keeps up to 1000 jobs, stages and queries for
            # the UI, so the live heap would grow with the number of
            # operations a window holds; a small cap lets it level off early
            "spark.ui.retainedJobs": "50",
            "spark.ui.retainedStages": "50",
            "spark.sql.ui.retainedExecutions": "50",
        }
        if args.trace:
            (work / "events").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "events").as_uri(),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        sessions = []
        for i in range(SESSION_SAMPLES):
            if i:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            spark.range(1000).selectExpr("sum(id)").collect()
            sessions.append(time.perf_counter() - t0)
        setup_s = t_imports + t_jvm + sessions[0]

        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark.sparkContext)
            tracing.install_service_spans(tracer)
        fn = {
            "convert_large": service_load.convert_large,
            "service_mix": service_load.service_mix,
            "query_mix": query_mix.query_mix,
        }[args.workload]
        t_call = time.perf_counter()
        res = fn(spark, work, args.seed, args.seconds, log, tracer, on_start=memory.start)
        pre_window_s = res.window[0] - t_call
        mem = memory.stop(spark)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        if tracer is not None:
            tracer.restore()
        canary_post = canary(root)

        e2e = {
            "setup_s": setup_s,
            "op_service_s": res.op_service_s,
            "mem_mb": mem.pop("mem_mb"),
        }
        res.detail["op_p50_s"] = statistics.median(res.latencies)
        res.detail["error_rate"] = res.failed / res.attempted
        log(f"workload {args.workload} seed {args.seed}: {len(res.latencies)} timed "
            f"operations in {res.window[1] - res.window[0]:.1f} s, "
            f"{res.attempted} attempted, {res.failed} failed")
        log("  service times in order (s): " + " ".join(f"{x:.2f}" for x in res.service))
        log(f"canary_sec pre {canary_pre} post {canary_post} (sort_s, cpu_s)")
        log(f"set-up: imports {t_imports:.3f} s, JVM {t_jvm:.3f} s, sessions "
            f"{[round(s, 3) for s in sessions]} s, pre-window {pre_window_s:.2f} s")
        for k, v in {**e2e, **mem, **res.detail}.items():
            log(f"  {k} = {v:.6g}")
        for e in res.errors[:10]:
            print(f"perfbench: check failed: {e}", file=sys.stderr)

        if args.trace:
            jobs = tracing.read_event_log(work / "events", app_id)
            metrics = tracing.layer_metrics(
                SPEC["per_layer"], res, tracer, jobs, cores,
                extra={
                    "session.import_s": t_imports,
                    "session.jvm_launch_s": t_jvm,
                    "session.first_start_s": sessions[0],
                    "session.start_s": statistics.median(sessions),
                    "bench.pre_window_s": pre_window_s,
                    "host.canary_pre_s": canary_pre[0],
                    "host.canary_post_s": canary_post[0],
                    **mem,
                    **{f"traced.{k}": v for k, v in e2e.items()},
                    "traced.op_p50_s": res.detail["op_p50_s"],
                },
            )
            for line in tracing.breakdown(metrics):
                log(line)
            out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        else:
            out = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    finally:
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's directory is still there
            pass
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
