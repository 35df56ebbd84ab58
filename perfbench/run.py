"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is a fresh process with a fresh
JVM: it sets up (session, seeded inputs, indexes, one discarded warm-up
request), runs the timed region, checks every output against the
benchmark's own reference, and prints one JSON object as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace
0`` the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, taken from spans around the benchmark's calls into each
layer and from Spark's status store.

``--seconds`` sizes the timed region: it runs as many fixed-size rounds as
fit in that many seconds at the nominal speed of a 4-vCPU host, so every
run of a workload does the same work whatever the host's speed that day.

The full run record (host stamp, setup phases, workload details) goes to
``.perfbench/runs/`` in the checkout and, for traced runs, the spans next
to it. Temporary files live under ``.perfbench/`` too and are removed at
exit; a ``pypeln_spark_*`` scratch directory left behind fails the run.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import socket
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("element_pipeline", "ann_live_serve")


def _process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _steal_s():
    """Cumulative hypervisor steal over all CPUs, in CPU-seconds."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def _psi_stall_s():
    """Cumulative CPU pressure stall ("some" line of /proc/pressure/cpu)."""
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1]) / 1e6
    except (OSError, ValueError):
        pass
    return None


def _delta(a, b):
    return None if a is None or b is None else b - a


def _jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _heap_live_mb(spark) -> float:
    """Driver JVM heap in use after a full collection. Frames the run has
    dropped are released asynchronously (py4j proxies, then Spark's
    ContextCleaner), so collect a few times with a pause between."""
    import gc

    jvm = spark._jvm
    for _ in range(3):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.3)
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or None


def _source_sha256() -> str:
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "pypeln_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _isolate(scratch: str) -> list:
    """Point every temp root at ``scratch`` and drop inherited engine
    knobs, so the run measures the defaults callers get. Returns the
    names of the dropped variables."""
    dropped = sorted(k for k in os.environ if k.startswith("PYPELN_SPARK_"))
    for k in dropped:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    tempfile.tempdir = None
    return dropped


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_metrics(tracer, wl, timed_from: float, session_s: float, lat_p50: float,
                   gc_s: float) -> dict:
    from perfbench.trace import self_time, subtree, union_len

    timed = [s for s in tracer.spans if s.start >= timed_from]
    setup = [s for s in tracer.spans if s.start < timed_from]
    jobs = tracer.job_stats(timed)

    def jobs_of(name):
        return [j for s in timed if s.name == name for j in jobs[s.sid]]

    def setup_s(name):
        return sum(s.dur for s in setup if s.name == name)

    requests = [s for s in timed if s.name == "request"]
    per_req = []
    for r in requests:
        rjobs = [j for s in subtree(timed, r) for j in jobs[s.sid]]
        gap = r.dur - union_len(r.start, r.end, [(j.submitted, j.completed) for j in rjobs])
        per_req.append((len(rjobs), sum(j.stages for j in rjobs), sum(j.tasks for j in rjobs), gap))
    all_jobs = {j.jid: j for js in jobs.values() for j in js}.values()
    staged = {s.sid for s in timed if s.name == "streaming.staged_foreach_batch"}
    bodies = [s for s in timed if s.parent in staged]
    body_s = sum(s.dur for s in bodies)
    n = max(len(per_req), 1)
    m = {
        "session.start_s": (session_s, "s"),
        "operators.plan_build_s": (self_time(timed, "operators.plan_build"), "s"),
        "operators.plan_jobs": (len(jobs_of("operators.plan_build")), "count"),
        "operators.drain_s": (self_time(timed, "operators.drain"), "s"),
        "harness.udf_calls": (0, "count"),
        "harness.udf_busy_s": (0.0, "s"),
        "harness.task_run_s": (0.0, "s"),
        "harness.overhead_s": (0.0, "s"),
        "harness.io_overlap": (0.0, "ratio"),
        "harness.pickled_stages": (0, "count"),
        "streaming.epochs": (len(bodies), "count"),
        "streaming.body_s": (body_s, "s"),
        "streaming.trigger_overhead_s": (
            sum(s.dur for s in timed if s.sid in staged) - body_s, "s"),
        "dedup.absorb_s": (self_time(timed, "dedup.absorb"), "s"),
        "dedup.compact_s": (self_time(timed, "dedup.compact"), "s"),
        "dedup.index_rows": (0, "count"),
        "similarity.kmeans_s": (setup_s("similarity.kmeans"), "s"),
        "similarity.index_build_s": (setup_s("similarity.index_build"), "s"),
        "similarity.ingest_gate_s": (self_time(timed, "similarity.ingest_gate"), "s"),
        "similarity.retrain_s": (self_time(timed, "similarity.retrain"), "s"),
        "similarity.serve_plan_s": (self_time(timed, "similarity.serve_plan"), "s"),
        "similarity.serve_write_s": (self_time(timed, "similarity.serve_write"), "s"),
        "spark.jobs": (sum(r[0] for r in per_req) / n, "count/req"),
        "spark.stages": (sum(r[1] for r in per_req) / n, "count/req"),
        "spark.tasks": (sum(r[2] for r in per_req) / n, "count/req"),
        "spark.driver_gap_s": (sum(r[3] for r in per_req) / n, "s/req"),
        "spark.shuffle_read_mb": (sum(j.shuffle_read for j in all_jobs) / 2**20, "MB"),
        "spark.shuffle_write_mb": (sum(j.shuffle_write for j in all_jobs) / 2**20, "MB"),
        "spark.spill_mb": (sum(j.spill for j in all_jobs) / 2**20, "MB"),
        "spark.gc_s": (gc_s, "s"),
        "trace.latency_p50_s": (lat_p50, "s"),
    }
    for k, v in wl.layer_metrics(jobs_of).items():
        m[k] = (v, m[k][1])
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    state = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(state, f"tmp-{os.getpid()}")
    os.makedirs(scratch)
    dropped = _isolate(scratch)
    steal0, psi0 = _steal_s(), _psi_stall_s()
    sys.path.insert(0, ROOT)
    try:
        import pypeln_spark as pl  # fails early outside a checkout
        from perfbench import ann, element
        from perfbench.trace import Tracer
    except ImportError as e:
        shutil.rmtree(scratch, ignore_errors=True)
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    cls = {
        "element_pipeline": element.ElementPipeline,
        "ann_live_serve": ann.AnnLiveServe,
    }[args.workload]

    t = time.perf_counter()
    spark = pl.get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t
    master = spark.sparkContext.master
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    try:
        wl = cls(spark, args.seed, args.seconds, tracer)
        with tracer.span("setup.warmup"):
            wl.warmup()
        setup_s = _process_age()

        timed_from = time.time()
        gc0, steal1, psi1 = _jvm_gc_s(spark), _steal_s(), _psi_stall_s()
        t0 = time.perf_counter()
        wl.run()
        elapsed = time.perf_counter() - t0
        gc_s, steal2, psi2 = _jvm_gc_s(spark) - gc0, _steal_s(), _psi_stall_s()
        heap_mb = _heap_live_mb(spark)

        result = wl.check()
        lat_p50 = statistics.median(wl.latencies)
        e2e = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "throughput_per_s": {"value": wl.requests / elapsed, "unit": "1/s"},
            "latency_p50_s": {"value": lat_p50, "unit": "s"},
            "heap_live_mb": {"value": heap_mb, "unit": "MB"},
            "quality": {"value": result["quality"], "unit": "ratio"},
        }
        layers = (
            _layer_metrics(tracer, wl, timed_from, session_s, lat_p50, gc_s)
            if args.trace else None
        )
        wl.close()
    finally:
        _stop(spark)
    leftovers = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(scratch, "pypeln_spark_*"))
    )
    shutil.rmtree(scratch, ignore_errors=True)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "stamp": {
            "host": socket.gethostname(),
            "nproc": len(os.sched_getaffinity(0)),
            "spark_master": master,
            "commit": _commit(),
            "engine_source_sha256": _source_sha256(),
            "python": sys.version.split()[0],
            "dropped_env": dropped,
            "steal_cpu_s": {"run": _delta(steal0, steal2), "timed": _delta(steal1, steal2)},
            "psi_stall_s": {"run": _delta(psi0, psi2), "timed": _delta(psi1, psi2)},
        },
        "setup": {"session_start_s": session_s, "setup_s": setup_s},
        "timed_s": elapsed,
        "latency_samples": len(wl.latencies),
        "latencies_s": wl.latencies,
        "gc_s": gc_s,
        "leftover_scratch": leftovers,
        "workload_record": result["record"],
        "end_to_end": e2e,
        "per_layer": layers,
    }
    runs = os.path.join(state, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.write(stem + ".spans.jsonl")
    print("perfbench record: " + json.dumps(record))
    print(json.dumps({
        "correct": result["failed"] == 0 and not leftovers,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": layers if args.trace else e2e,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
