"""In-memory span tracer installed around the engine's layer entry points.

Nothing in the engine is edited: the tracer replaces module and class
attributes at run time (``streaming.apply.apply_batch``/``run_stream``,
the public ``ParquetLakeTarget`` methods) with wrappers and restores them on
``uninstall``. The apply clock (handover/commit time of every batch) is
always on, because the end-to-end latencies come from it; everything else
is recorded only when tracing is enabled.

Spans carry name, start, end, parent and the batch id; ``dump`` writes
them with their self times (duration minus the part covered by children).
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import lakestats


class Tracer:
    def __init__(self, spark, enabled: bool, workload: str):
        self.spark = spark
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self.batches: list[dict] = []  # the apply clock, one entry per batch
        self.counts: defaultdict[str, float] = defaultdict(float)
        self.bookkeeping_s = 0.0  # time spent in the tracer's own queries
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._current_batch = None
        # parent for spans opened on other threads (foreachBatch callbacks
        # run on a py4j callback thread while run_stream blocks the caller)
        self._root = None

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else self._root,
            "workload": self.workload,
            "batch": self._current_batch,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> list[float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            (s["end"] - s["start"]) - child[s["id"]]
            if s["end"] is not None else None
            for s in self.spans
        ]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**s, "self": st}) + "\n")

    # ------------------------------------------------------------ JVM

    def gc_seconds(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def _job_counts(self, group: str) -> tuple[int, int]:
        tracker = self.spark.sparkContext._jsc.sc().statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info.isEmpty():
                continue
            for sid in info.get().stageIds():
                st = tracker.getStageInfo(sid)
                if not st.isEmpty():
                    tasks += st.get().numTasks()
        return len(jobs), tasks

    # ------------------------------------------------------------ wrappers

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self) -> None:
        from kettle_jena_plugins_spark.streaming import apply as apply_mod
        from kettle_jena_plugins_spark.targets.parquet_lake import (
            ParquetLakeTarget,
        )

        tracer = self
        sc = self.spark.sparkContext

        def wrap_apply(orig):
            def apply_batch(target, events, batch_id, cfg=None, **kw):
                tracer._current_batch = batch_id
                group = f"perfbench-{tracer.workload}-{len(tracer.batches)}"
                gc0, before = 0.0, set()
                if tracer.enabled:
                    b0 = time.perf_counter()
                    sc.setJobGroup(group, "perfbench apply")
                    gc0 = tracer.gc_seconds()
                    before = set(lakestats.referenced_files(target.manifest()))
                    tracer.bookkeeping_s += time.perf_counter() - b0
                t0 = time.time()
                with tracer.span("apply.batch"):
                    res = orig(target, events, batch_id, cfg, **kw)
                t1 = time.time()
                rec = {
                    "batch_id": batch_id,
                    "start": t0,
                    "end": t1,
                    "applied": res.applied,
                    "events_in": res.events_in,
                    "snapshot_version": res.snapshot_version,
                    "buckets_compacted": res.buckets_compacted,
                }
                if tracer.enabled:
                    b0 = time.perf_counter()
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    rec["spark_jobs"], rec["spark_tasks"] = tracer._job_counts(group)
                    rec["gc_s"] = tracer.gc_seconds() - gc0
                    after = lakestats.referenced_files(target.manifest())
                    rec["files_written"] = len(set(after) - before)
                    tracer.bookkeeping_s += time.perf_counter() - b0
                tracer.batches.append(rec)
                tracer._current_batch = None
                return res

            return apply_batch

        def wrap_stream(orig):
            def run_stream(*a, **kw):
                with tracer.span("stream.run") as rec:
                    tracer._root = rec["id"]
                    try:
                        return orig(*a, **kw)
                    finally:
                        tracer._root = None

            return run_stream

        def wrap_span(name):
            def make(orig):
                def method(self_, *a, **kw):
                    with tracer.span(name):
                        return orig(self_, *a, **kw)

                return method

            return make

        def wrap_read_internal(orig):
            def read_internal(self_, buckets=None, resolve=None, version=None):
                with tracer.span("lake.read_internal"):
                    stack = tracer._stack()
                    in_merge = any(
                        tracer.spans[i]["name"] == "lake.merge" for i in stack
                    )
                    if tracer.enabled and in_merge:
                        # the affected-bucket target read of a cell merge
                        b0 = time.perf_counter()
                        files = lakestats.referenced_files(
                            self_.manifest(version), buckets
                        )
                        tracer.counts["target_rows_read"] += lakestats.parquet_rows(files)
                        tracer.bookkeeping_s += time.perf_counter() - b0
                    return orig(self_, buckets=buckets, resolve=resolve,
                                version=version)

            return read_internal

        def wrap_evolve(orig):
            def evolve_schema(self_, new_schema):
                changed = orig(self_, new_schema)
                tracer.counts["alters"] += int(bool(changed))
                return changed

            return evolve_schema

        self._patch(apply_mod, "apply_batch", wrap_apply)
        if not self.enabled:
            return
        self._patch(apply_mod, "run_stream", wrap_stream)
        self._patch(ParquetLakeTarget, "merge_batch", wrap_span("lake.merge"))
        self._patch(ParquetLakeTarget, "compact", wrap_span("lake.compact"))
        self._patch(ParquetLakeTarget, "read_internal", wrap_read_internal)
        self._patch(ParquetLakeTarget, "evolve_schema", wrap_evolve)


PROBE_REPS = 2


def layer_probes(spark, src, mask_col: str = "set_cols") -> dict:
    """Busy time per fused layer on one representative batch.

    Spark fuses parse, validate, reduce and normalize into one job in the
    real run, so each layer is timed as the difference between successive
    cumulative probe chains, each materialized to a ``noop`` sink: source
    (scan + envelope parse), →validate, →lww_reduce, →normalize_text, and
    →lww_reduce_partial beside the whole-row reduce. Medians of
    ``PROBE_REPS`` repetitions."""
    from pyspark.sql import functions as F

    from kettle_jena_plugins_spark.functions.textnorm import normalize_text
    from kettle_jena_plugins_spark.model import LWW_ORDER, MERGE_KEYS
    from kettle_jena_plugins_spark.operators.lww import lww_reduce, lww_reduce_partial
    from kettle_jena_plugins_spark.operators.validate import validate_split

    from stats import median

    # the apply path's input-parallelism floor (CDCConfig.input_partitions)
    floor = 2 * spark.sparkContext.defaultParallelism
    if src._jdf.queryExecution().toRdd().getNumPartitions() < floor:
        src = src.repartition(floor)
    ok, dead = validate_split(src)
    cells = [c for c in ok.columns if c not in (*MERGE_KEYS, *LWW_ORDER, "op")]
    # every event written as a full image: the cell-level reduce's cost on
    # the same batch
    sparse = ok.withColumn(mask_col, F.array(*[F.lit(c) for c in cells]))
    reduced = lww_reduce(ok)
    chains = {
        "src": src,
        "ok": ok,
        "reduced": reduced,
        "normalized": reduced.withColumn("text", normalize_text(F.col("text"))),
        "partial": lww_reduce_partial(sparse, set_col=mask_col, payload=cells),
    }

    def noop(df) -> float:
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    times = {k: [] for k in chains}
    for _ in range(PROBE_REPS):
        for k, df in chains.items():
            times[k].append(noop(df))
    t = {k: median(v) for k, v in times.items()}
    n_in = src.count()
    n_keys = reduced.count()
    return {
        "sources.parse_s": t["src"],
        "validate.split_s": t["ok"] - t["src"],
        "validate.dead_letter_rows": dead.count(),
        "lww.reduce_s": t["reduced"] - t["ok"],
        "lww.reduce_ratio": n_in / max(n_keys, 1),
        "lww.partial_reduce_s": t["partial"] - t["ok"],
        "textnorm.normalize_s": t["normalized"] - t["reduced"],
        "textnorm.rows": n_keys,
    }
