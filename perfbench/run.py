"""CDC ingest benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload tail-debezium --seed 1 --seconds 24 --trace 0

Run from the repository root. The engine package (kettle_jena_plugins_spark)
must sit beside this directory; without it the benchmark exits with code 2.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it holds the run's
context (host, versions, session settings, the wall-clock figures, sample
counts, the measured window's CPU and steal, storage report, failures,
per-phase wall times). Scratch data lives under ``.perfbench/`` in the working tree and
is removed at exit, apart from the span dumps in ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def size_session(work: str) -> dict:
    """Session sizing from outside the engine (session.py reads these):
    local[nproc], 2×nproc shuffle partitions, a heap that fits the host,
    ParallelGC kept, and every scratch directory inside the work tree."""
    cpus = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(4, int(_mem_total_bytes() * 0.2 / 2**30)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_DRIVER_JAVA_OPTS": (
            f"-XX:+UseParallelGC -Xms{heap_gb}g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python UDF workers import the engine by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    return {"cpus": cpus, "master": f"local[{cpus}]",
            "shuffle_partitions": 2 * cpus, **env}


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # make sure nothing outlives the run
            proc.kill()
            proc.wait(timeout=30)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


def warm_up(spark, parallelism: int) -> None:
    """Fork the Python UDF workers (part of every set-up)."""
    from pyspark.sql import functions as F

    from kettle_jena_plugins_spark.functions.textnorm import normalize_text

    spark.range(0, 50_000, numPartitions=parallelism).select(
        normalize_text(F.col("id").cast("string"))
    ).write.format("noop").mode("overwrite").save()


def latencies(wl, idx) -> list[float]:
    return [wl.tracer.batches[i]["end"] - wl.tracer.batches[i]["start"] for i in idx]


def end_to_end(wl, setup_s: list[float], storage: dict) -> tuple[dict, dict, dict]:
    """The bounded end-to-end metrics, the wall-clock latency and
    throughput figures, and the samples behind them.

    On a shared host, wall-clock figures move up to twofold between
    consecutive runs with the CPU the hypervisor lends to other guests (see
    cpuclock), so they are reported beside the result, not bounded; the CPU
    the engine spends per event moves far less."""
    from cpuclock import between
    from stats import median, tail

    batches = wl.tracer.batches
    events = sum(batches[i]["events_in"] for i in wl.ingest)
    window = between(*wl.window)
    fresh = [batches[i]["end"] - wl.due[i] for i in wl.ingest]
    ingest_s = latencies(wl, wl.ingest)
    upsert_s = latencies(wl, wl.upserts)
    tail_v, tail_label = tail(fresh)
    values = {
        "setup_s": (median(setup_s), "s"),
        "cpu_us_per_event": (window["cpu_s"] * 1e6 / max(events, 1), "us/ev"),
        "storage_bytes_per_row": (storage["bytes_per_row"], "B"),
    }
    wall = {
        "freshness_p50_s": (median(fresh), "s"),
        "freshness_tail_s": (tail_v, "s"),
        "ingest_events_per_s": (events / max(sum(ingest_s), 1e-9), "ev/s"),
    }
    if wl.read_s:  # sparse-upsert-read: the upserts and the reads beside them
        wall["upsert_p50_s"] = (median(upsert_s), "s")
        wall["read_p50_s"] = (median(wl.read_s), "s")
        wall["changes_p50_s"] = (median(wl.changes_s), "s")
    samples = {
        "setup": len(setup_s), "freshness": len(fresh),
        "freshness_tail": tail_label, "upsert": len(upsert_s),
        "read": len(wl.read_s), "changes": len(wl.changes_s),
        "freshness_s": fresh, "upsert_s": upsert_s,
        "read_s": wl.read_s, "changes_s": wl.changes_s,
        "window": window,
    }
    return values, wall, samples


def per_layer(wl, storage: dict, probes: dict, gc_s: float) -> dict:
    from stats import median

    tr = wl.tracer
    b = tr.batches
    selfs = tr.self_times()
    apply_self = [st for s, st in zip(tr.spans, selfs) if s["name"] == "apply.batch"]
    lat = latencies(wl, range(len(b)))
    compacting = [t for t, x in zip(lat, b) if x["buckets_compacted"]]
    rest = [t for t, x in zip(lat, b) if not x["buckets_compacted"]]
    # compacting batches vs the rest; where no batch compacts inline (the
    # backfill's maintenance compaction), the compaction span itself
    compact_extra = (
        median(compacting) - median(rest) if compacting and rest
        else median(tr.durations("lake.compact"))
    )
    if tr.durations("stream.run"):
        # run_stream wall outside apply_batch, per segment: the streaming
        # query's start, offset and commit logs
        overhead = []
        for s, st in zip(tr.spans, selfs):
            if s["name"] == "stream.run":
                k = sum(1 for c in tr.spans
                        if c["parent"] == s["id"] and c["name"] == "apply.batch")
                overhead.append(st / max(k, 1))
        late, backlog = wl.generator_stats()
    else:
        # the closed loop's handover: due time to apply_batch entry
        overhead = [b[i]["start"] - due for i, due in wl.due.items()]
        late, backlog = max(overhead, default=0.0), 0
    values = {
        "apply.batch_s": (median(tr.durations("apply.batch")), "s"),
        "apply.self_s": (median(apply_self), "s"),
        "stream.overhead_s": (median(overhead), "s"),
        "apply.spark_jobs": (median(x["spark_jobs"] for x in b), "count"),
        "apply.spark_tasks": (median(x["spark_tasks"] for x in b), "count"),
        "lake.merge_s": (median(tr.durations("lake.merge")), "s"),
        "lake.files_per_commit": (median(x["files_written"] for x in b), "count"),
        "lake.compact_batches": (len(compacting), "count"),
        "lake.compact_extra_s": (compact_extra, "s"),
        "lake.layers_per_bucket": (storage["layers_per_bucket"], "count"),
        "lake.read_amp": (storage["read_amp"], "ratio"),
        "lake.target_rows_read": (
            tr.counts["target_rows_read"] / max(len(wl.upserts), 1), "count"),
        "lake.write_amp": (storage["write_amp"], "ratio"),
        "lake.orphan_bytes": (storage["orphan_bytes"], "B"),
        "sources.parse_s": (probes["sources.parse_s"], "s"),
        "validate.split_s": (probes["validate.split_s"], "s"),
        "validate.dead_letter_rows": (probes["validate.dead_letter_rows"], "count"),
        "lww.reduce_s": (probes["lww.reduce_s"], "s"),
        "lww.reduce_ratio": (probes["lww.reduce_ratio"], "ratio"),
        "lww.partial_reduce_s": (probes["lww.partial_reduce_s"], "s"),
        "textnorm.normalize_s": (probes["textnorm.normalize_s"], "s"),
        "textnorm.rows": (probes["textnorm.rows"], "count"),
        "evolution.alters": (tr.counts["alters"], "count"),
        "jvm.gc_s": (gc_s, "s"),
        "gen.late_max_s": (late, "s"),
        "gen.backlog_end": (backlog, "count"),
        "trace.overhead_s": (tr.bookkeeping_s / max(len(b), 1), "s"),
    }
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kettle_jena_plugins_spark")):
        print("perfbench: engine package kettle_jena_plugins_spark not found "
              f"beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    settings = size_session(work)

    from workloads import WORKLOADS  # imports pyspark: after size_session

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import pyspark
    from lakestats import storage_report
    from tracing import Tracer, layer_probes

    from kettle_jena_plugins_spark.session import get_spark

    cpus = settings["cpus"]
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=settings["master"],
                      shuffle_partitions=settings["shuffle_partitions"],
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    phases["session"] = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark, bool(args.trace), args.workload)
        wl = WORKLOADS[args.workload](spark, args.seed, args.seconds, tracer, 2 * cpus)
        setup_s = []
        for rep in range(SETUP_REPS):
            rep_dir = os.path.join(work, f"rep{rep}")
            t = time.perf_counter()
            warm_up(spark, 2 * cpus)
            wl.setup(rep_dir)
            setup_s.append(time.perf_counter() - t)
            if rep:  # keep only the last repetition's inputs and table
                shutil.rmtree(os.path.join(work, f"rep{rep - 1}"))
        phases["setup"] = sum(setup_s)

        tracer.install()
        try:
            gc0 = tracer.gc_seconds()
            t = time.perf_counter()
            wl.run()
            phases["run"] = time.perf_counter() - t
            gc_s = tracer.gc_seconds() - gc0
            t = time.perf_counter()
            wl.check()
            phases["check"] = time.perf_counter() - t
        finally:
            tracer.uninstall()
        t = time.perf_counter()
        storage = storage_report(wl.target, wl.extra.get("final_rows", 0), wl.input_bytes)
        phases["storage"] = time.perf_counter() - t
        rss = jvm_peak_rss_mb(spark)
        values, wall, samples = end_to_end(wl, setup_s, storage)
        if args.trace:
            t = time.perf_counter()
            probes = layer_probes(spark, wl.probe_source())
            phases["probes"] = time.perf_counter() - t
            values = per_layer(wl, storage, probes, gc_s)
            trace_path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(trace_path)
        info = {
            "workload": args.workload, "loop": wl.loop, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "host": {"cpus": cpus, "mem_bytes": _mem_total_bytes(),
                     "python": platform.python_version(),
                     "spark": pyspark.__version__,
                     "java": spark._jvm.System.getProperty("java.version")},
            "session": settings, "setup_reps_s": setup_s,
            "wall_clock": {k: {"value": v, "unit": u} for k, (v, u) in wall.items()},
            "jvm_peak_rss_mb": rss,
            "samples": samples, "storage": storage, "extra": wl.extra,
            "tracing_bookkeeping_s": tracer.bookkeeping_s,
            "failures": wl.failures,
            "phases_s": phases,
        }
    finally:
        t = time.perf_counter()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t
    phases["total"] = time.perf_counter() - t_start

    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
