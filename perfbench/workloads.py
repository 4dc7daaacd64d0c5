"""The seeded CDC workloads.

Each workload generates its inputs from the seed with the engine's own
generator (``datagen.gen_change_events``), drives the engine only through
its public entry points, and keeps what the run needs for its metrics:

- ``setup(rep_dir)``   build inputs and seed the table (timed, repeated)
- ``run()``            the measured loop; every batch goes through
                       ``streaming.apply`` so the tracer's apply clock sees it
- ``oracle()``         the one-shot expected final state
- ``probe_source()``   one representative batch, parsed, for the layer probes

Batches are indexed by their position on the apply clock
(``tracer.batches``). ``ingest`` lists the batches behind the freshness and
throughput metrics, ``upserts`` those behind the upsert latency.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time

import cpuclock
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kettle_jena_plugins_spark.datagen import gen_change_events
from kettle_jena_plugins_spark.operators.lww import lww_state, lww_state_partial
from kettle_jena_plugins_spark.sources.debezium import parse_debezium, to_debezium_json
from kettle_jena_plugins_spark.sources.mongo import parse_mongo_oplog, to_mongo_oplog
from kettle_jena_plugins_spark.streaming import apply as apply_mod
from kettle_jena_plugins_spark.streaming.apply import CDCConfig
from kettle_jena_plugins_spark.targets.parquet_lake import ParquetLakeTarget

EPOCH_S = 1_767_225_600  # the generator's event-time origin, 2026-01-01 UTC


def digest(df: DataFrame, cols) -> tuple[int, str]:
    """Row count and an order-independent row hash (exact decimal sum of
    per-row xxhash64) — one aggregation, so it is also a full-state read."""
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), str(r["h"])


def _bytes(files) -> int:
    return sum(os.path.getsize(f) for f in files)


def _split_by_lsn(df: DataFrame, parts: int, out_dir: str, render, prefix: str) -> list[str]:
    """Write ``parts`` contiguous lsn ranges as one text file each (range
    partitioning keeps file k = the k-th lsn range) → ordered file list."""
    render(df.repartitionByRange(parts, "lsn")).write.text(out_dir)
    files = sorted(glob.glob(os.path.join(out_dir, "part-*.txt")))
    if len(files) != parts:
        raise RuntimeError(f"expected {parts} segments, got {len(files)}")
    out = []
    for i, f in enumerate(files):
        dst = os.path.join(os.path.dirname(out_dir), f"{prefix}-{i:05d}.json")
        os.rename(f, dst)
        out.append(dst)
    shutil.rmtree(out_dir)
    return out


class Workload:
    name = ""
    loop = ""

    def __init__(self, spark, seed: int, seconds: int, tracer, parallelism: int):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.parallelism = parallelism
        self.target: ParquetLakeTarget | None = None
        self.input_bytes = 0
        self.due: dict[int, float] = {}  # batch index → due time
        self.ingest: list[int] = []
        self.upserts: list[int] = []
        self.read_s: list[float] = []
        self.changes_s: list[float] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.window: list[dict] = []  # cpuclock marks around the measured loop
        self.extra: dict = {}

    # the part of each run every workload shares ---------------------------

    def apply(self, events: DataFrame, batch_id: int, cfg: CDCConfig, kind: list[int]):
        """Closed-loop handover: the batch is due the moment it is handed
        over (the caller waited for the previous one). ``kind`` is the
        index list the batch counts toward."""
        idx = len(self.tracer.batches)
        self.due[idx] = time.time()
        self.attempted += 1
        try:
            res = apply_mod.apply_batch(self.target, events, batch_id, cfg)
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self.failures.append(f"apply {batch_id}: {e!r}")
            return None
        kind.append(idx)
        if not res.applied:
            self.failures.append(f"apply {batch_id}: replay-skipped new batch")
        return res

    def table_cols(self) -> list[str]:
        return sorted(self.target.schema().fieldNames())

    def check(self) -> None:
        """Final table vs the one-shot oracle: row count and row hash."""
        self.attempted += 1
        cols = self.table_cols()
        try:
            got = digest(self.target.read(), cols)
            want = digest(self.oracle(), cols)
        except Exception as e:  # noqa: BLE001
            self.failures.append(f"check: {e!r}")
            return
        self.extra["final_rows"] = got[0]
        if got != want:
            self.failures.append(f"check: table {got} != oracle {want}")

    # per workload ----------------------------------------------------------

    def setup(self, rep_dir: str) -> None:
        raise NotImplementedError

    def run(self) -> None:
        raise NotImplementedError

    def oracle(self) -> DataFrame:
        raise NotImplementedError

    def probe_source(self) -> DataFrame:
        """One representative batch, parsed to canonical change events."""
        raise NotImplementedError


class TailDebezium(Workload):
    """Open loop: pre-rendered Debezium segments released into the WAL
    directory on a fixed schedule; the engine tails it with run_stream."""

    name = "tail-debezium"
    loop = "open"
    # copies of the leading segments first stream into a scratch table of
    # their own, one run_stream call each: the JVM's code paths are warm
    # when the schedule starts (the latencies fall for about five batches),
    # and the measured table starts empty
    WARMUP = 3
    SEG_EVENTS = 10_000  # + 5% duplicates
    # ~55% of one 4-core host's capacity (apply plus the streaming query's
    # start and commit): headroom for slow stretches of a shared host, which
    # otherwise queue segments. An inline compaction batch costs ~2.5
    # ordinary ones and queues the segments behind it, so a 30 s run (8
    # segments) stays within the default compaction threshold; the
    # backfill measures compaction instead.
    INTERVAL_S = 4.0
    N_CONVS = 2_000

    def setup(self, rep_dir: str) -> None:
        self.dir = rep_dir
        self.n_seg = max(self.WARMUP, round(self.seconds / self.INTERVAL_S))
        self.events = gen_change_events(
            self.spark, self.n_seg * self.SEG_EVENTS, n_convs=self.N_CONVS,
            ooo_frac=0.1, dup_frac=0.05, seed=self.seed,
            parallelism=self.parallelism,
        )
        self.staged = _split_by_lsn(
            self.events, self.n_seg, os.path.join(rep_dir, "render"),
            to_debezium_json, "seg",
        )
        self.input_bytes = _bytes(self.staged)
        self.target = ParquetLakeTarget(
            self.spark, os.path.join(rep_dir, "table"), n_buckets=32, mode="mor"
        )
        self.target.create()

    def _drain(self, wal, target, ckpt, until, deadline, ready) -> None:
        """run_stream over ``wal`` until ``until`` batches since ``k0``
        have committed; ``ready()`` is the number of segments released."""
        cfg = CDCConfig()
        while len(self.tracer.batches) - self.k0 < until and time.time() < deadline:
            if ready() > len(self.tracer.batches) - self.k0:
                self.attempted += 1
                apply_mod.run_stream(
                    self.spark, wal, target, ckpt, cfg,
                    max_files_per_trigger=1, envelope_dialect="debezium",
                )
            else:
                time.sleep(0.01)

    def _warm_up(self) -> None:
        warm = os.path.join(self.dir, "warm")
        os.makedirs(os.path.join(warm, "wal"))
        table = ParquetLakeTarget(
            self.spark, os.path.join(warm, "table"), n_buckets=32, mode="mor"
        )
        table.create()
        self.k0 = len(self.tracer.batches)
        deadline = time.time() + 90.0
        try:
            # one segment per run_stream call, as on the schedule
            for i, src in enumerate(self.staged[:self.WARMUP]):
                shutil.copyfile(src, os.path.join(warm, "wal", os.path.basename(src)))
                self._drain(os.path.join(warm, "wal"), table,
                            os.path.join(warm, "ckpt"), i + 1, deadline,
                            lambda i=i: i + 1)
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self.failures.append(f"warm-up run_stream: {e!r}")
        if len(self.tracer.batches) - self.k0 < self.WARMUP:
            self.failures.append("warm-up stream did not drain")
        shutil.rmtree(warm)

    def run(self) -> None:
        self._warm_up()
        wal = os.path.join(self.dir, "wal")
        ckpt = os.path.join(self.dir, "ckpt")
        os.makedirs(wal)
        n = self.n_seg
        released: list[float | None] = [None] * n

        def release() -> None:
            for i in range(n):
                time.sleep(max(0.0, self.seg_due[i] - time.time()))
                src = self.staged[i]
                os.utime(src)  # the file source orders by modification time
                os.rename(src, os.path.join(wal, os.path.basename(src)))
                released[i] = time.time()

        self.k0 = len(self.tracer.batches)
        t0 = time.time() + 0.2
        self.seg_due = [t0 + i * self.INTERVAL_S for i in range(n)]
        releaser = threading.Thread(target=release, name="perfbench-release")
        self.window.append(cpuclock.mark())
        releaser.start()
        try:
            self._drain(wal, self.target, ckpt, n, self.seg_due[-1] + 60.0,
                        lambda: sum(r is not None for r in released))
        except Exception as e:  # noqa: BLE001
            self.failures.append(f"run_stream: {e!r}")
        finally:
            releaser.join()
        self.window.append(cpuclock.mark())
        self.released = released
        self.wal_files = [os.path.join(wal, os.path.basename(s)) for s in self.staged]
        self.attempted += n
        if len(self.tracer.batches) - self.k0 < n:
            self.failures.append(
                f"stream drained {len(self.tracer.batches) - self.k0}/{n}")
        for b in self.tracer.batches:
            if not b["applied"]:
                self.failures.append(f"batch {b['batch_id']} not applied")
        self._map_segments(ckpt)

    def _map_segments(self, ckpt: str) -> None:
        """Segment → batch from the checkpoint's source log, then each
        segment's due time keyed by the index of its batch."""
        by_batch = {b["batch_id"]: i for i, b in enumerate(self.tracer.batches)
                    if i >= self.k0}
        self.seg_commit: list[float | None] = [None] * self.n_seg
        # numbered logs plus the periodic "<n>.compact" roll-ups
        for log in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
            if not os.path.basename(log).split(".")[0].isdigit():
                continue
            with open(log) as f:
                for line in f.read().splitlines()[1:]:
                    entry = json.loads(line)
                    seg = int(os.path.basename(entry["path"])[4:9])
                    idx = by_batch.get(int(entry["batchId"]))
                    if idx is not None:
                        self.due[idx] = self.seg_due[seg]
                        self.seg_commit[seg] = self.tracer.batches[idx]["end"]
        self.ingest = sorted(self.due)
        self.upserts = list(self.ingest)

    def generator_stats(self) -> tuple[float, int]:
        late = max(r - d for r, d in zip(self.released, self.seg_due) if r)
        # backlog when the last segment is released: earlier segments not
        # yet committed (a sustainable rate keeps this at 0 or 1)
        t_end = self.seg_due[-1]
        backlog = sum(
            1 for c in self.seg_commit[:-1] if c is None or c > t_end
        )
        return late, backlog

    def oracle(self) -> DataFrame:
        return lww_state(self.events)

    def probe_source(self):
        return parse_debezium(self.spark.read.text(self.wal_files[0]))


class BackfillBulk(Workload):
    """Closed loop, one caller: a parquet WAL of ~200k-event batches applied
    to a fresh MOR table, then a maintenance compaction."""

    name = "backfill-bulk"
    loop = "closed"
    # a leading batch that starts the apply path's code: applied and
    # checked, but left out of the metrics
    WARMUP_EVENTS = 150_000
    BATCH_EVENTS = 200_000  # + 5% duplicates
    # sizes the WAL: one batch per BATCH_S of run length (a batch plus its
    # share of the warm-up batch and the closing compaction)
    BATCH_S = 7.5
    N_CONVS = 10_000

    def setup(self, rep_dir: str) -> None:
        self.dir = rep_dir
        n_batches = max(4, round(self.seconds / self.BATCH_S))
        bounds = [0, *(self.WARMUP_EVENTS + i * self.BATCH_EVENTS
                       for i in range(n_batches + 1))]
        # tool_meta appears inside the middle measured batch
        k_evolve = 1 + (n_batches - 1) // 2
        self.evolve_at = bounds[k_evolve] + self.BATCH_EVENTS // 2
        self.events = gen_change_events(
            self.spark, bounds[-1], n_convs=self.N_CONVS, hot_frac=0.2,
            ooo_frac=0.1, dup_frac=0.05, evolve_at=self.evolve_at,
            seed=self.seed, parallelism=self.parallelism,
        )
        self.wal = [os.path.join(rep_dir, "wal", f"batch-{i:03d}")
                    for i in range(len(bounds) - 1)]
        # one write per schema: the batches before the evolving one lack
        # tool_meta (the producer has not evolved yet)
        batch = sum((F.col("lsn") >= b).cast("int") for b in bounds[1:-1])
        evolved = F.col("lsn") >= bounds[k_evolve]
        staged = os.path.join(rep_dir, "staged")
        for part, df in (("old", self.events.filter(~evolved).drop("tool_meta")),
                         ("new", self.events.filter(evolved))):
            df.withColumn("batch", batch).coalesce(self.parallelism) \
                .write.partitionBy("batch").parquet(os.path.join(staged, part))
        for i, path in enumerate(self.wal):
            part = "old" if i < k_evolve else "new"
            os.renames(os.path.join(staged, part, f"batch={i}"), path)
        shutil.rmtree(staged)
        self.input_bytes = sum(
            _bytes(glob.glob(os.path.join(p, "*.parquet"))) for p in self.wal
        )
        self.target = ParquetLakeTarget(
            self.spark, os.path.join(rep_dir, "table"), n_buckets=32, mode="mor"
        )
        self.target.create()

    def run(self) -> None:
        cfg = CDCConfig()
        self.apply(self.spark.read.parquet(self.wal[0]), 0, cfg, [])  # warm-up
        self.window.append(cpuclock.mark())
        for i, path in enumerate(self.wal[1:], 1):
            self.apply(self.spark.read.parquet(path), i, cfg, self.ingest)
        self.window.append(cpuclock.mark())
        self.upserts = list(self.ingest)
        # a backfill ends with a maintenance compaction before readers come
        self.attempted += 1
        try:
            self.extra["compacted_buckets"] = self.target.compact()
        except Exception as e:  # noqa: BLE001
            self.failures.append(f"compact: {e!r}")

    def oracle(self) -> DataFrame:
        return lww_state(self.events)

    def probe_source(self):
        return self.spark.read.parquet(self.wal[1])


class SparseUpsertRead(Workload):
    """Closed loop, one caller: partial-image update batches (Mongo
    ``$set``/``$unset`` patches touching a few percent of the keys) against
    a seeded table, each followed by a full-state read and a net-changelog
    read of its snapshot."""

    name = "sparse-upsert-read"
    loop = "closed"
    SEED_EVENTS = 60_000
    N_CONVS = 600  # × 100 turns: the key space
    BATCH_EVENTS = 1_500  # ~4% of the live keys
    CYCLE_S = 3.0  # one upsert + read + changelog per CYCLE_S of run length
    MASK = "set_cols"
    CELLS = ("role", "text", "tool")

    def setup(self, rep_dir: str) -> None:
        self.dir = rep_dir
        self.n_batches = max(3, round(self.seconds / self.CYCLE_S))
        # the seed as whole-row images: every cell written, deletes none
        self.seed_events = gen_change_events(
            self.spark, self.SEED_EVENTS, n_convs=self.N_CONVS, ooo_frac=0.1,
            seed=self.seed, parallelism=self.parallelism,
        ).withColumn(
            self.MASK,
            F.when(F.col("op") == "D", F.array().cast("array<string>"))
            .otherwise(F.array(*[F.lit(c) for c in self.CELLS])),
        )
        self.wal = []
        for i in range(self.n_batches):
            path = os.path.join(rep_dir, "wal", f"upsert-{i:03d}")
            to_mongo_oplog(self._updates(i), set_col=self.MASK).write.text(path)
            self.wal.append(path)
        self.input_bytes = sum(
            _bytes(glob.glob(os.path.join(p, "part-*"))) for p in self.wal
        )
        self.target = ParquetLakeTarget(
            self.spark, os.path.join(rep_dir, "table"), n_buckets=32, mode="mor"
        )
        self.target.create()
        # seeded through the cell-level merge, so its code paths start warm
        apply_mod.apply_batch(self.target, self.seed_events, 0,
                              CDCConfig(partial_set_col=self.MASK))

    def _updates(self, i: int) -> DataFrame:
        """Upsert batch ``i``: keys drawn from the seeded key space, a
        random non-empty subset of the cells written (a written null
        ``tool`` renders as ``$unset``), event times after the seed and
        every earlier batch, shuffled inside this one."""
        n = self.BATCH_EVENTS
        gap = 1_000
        gid = F.col("id") + F.lit(i * n)

        def h(salt: int):
            return F.pmod(F.xxhash64(F.lit(self.seed), F.lit(salt), gid), F.lit(1 << 30))

        key = F.pmod(h(21), F.lit(self.N_CONVS * 100))
        bits = F.pmod(h(22), F.lit(7)) + 1
        wrote = {c: F.pmod(F.floor(bits / (1 << k)), F.lit(2)) == 1
                 for k, c in enumerate(self.CELLS)}
        base = 2 * self.SEED_EVENTS + i * (n + gap)
        roles = F.array(*[F.lit(r) for r in ("user", "assistant", "tool")])
        value = {
            "role": F.element_at(roles, (F.pmod(h(23), F.lit(3)) + 1).cast("int")),
            "text": F.concat(F.lit("upd tok"), F.pmod(h(24), F.lit(50_000)),
                             F.lit(" u"), gid),
            "tool": F.when(F.pmod(h(25), F.lit(3)) == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("tool_"), F.pmod(h(26), F.lit(20)))),
        }
        ts_sec = F.lit(base + gap) + F.col("id") - F.pmod(h(27), F.lit(gap))
        return self.spark.range(0, n, numPartitions=1).select(
            F.lit("U").alias("op"),
            (F.lit(base) + F.col("id")).alias("lsn"),
            F.timestamp_seconds(F.lit(EPOCH_S) + ts_sec).alias("ts"),
            F.concat(F.lit("conv-"), F.floor(key / 100).cast("string")).alias("conv_id"),
            F.pmod(key, F.lit(100)).cast("int").alias("turn_idx"),
            *[F.when(wrote[c], value[c]).alias(c) for c in self.CELLS],
            F.filter(
                F.array(*[F.when(wrote[c], F.lit(c)) for c in self.CELLS]),
                lambda x: x.isNotNull(),
            ).alias(self.MASK),
        )

    def timed_read(self) -> None:
        """One full-state read aggregate."""
        self.attempted += 1
        try:
            t = time.perf_counter()
            digest(self.target.read(), self.table_cols())
            self.read_s.append(time.perf_counter() - t)
        except Exception as e:  # noqa: BLE001
            self.failures.append(f"read: {e!r}")

    def timed_changes(self, v_from: int, v_to: int) -> None:
        """One net-changelog count between two snapshots."""
        self.attempted += 1
        try:
            t = time.perf_counter()
            self.target.changes_between(v_from, v_to).count()
            self.changes_s.append(time.perf_counter() - t)
        except Exception as e:  # noqa: BLE001
            self.failures.append(f"changes: {e!r}")

    def _parsed(self, paths) -> DataFrame:
        return parse_mongo_oplog(self.spark.read.text(paths), set_cols_col=self.MASK)

    def run(self) -> None:
        cfg = CDCConfig(partial_set_col=self.MASK)
        self.window.append(cpuclock.mark())
        for i, path in enumerate(self.wal):
            v_from = self.target.manifest()["version"]
            self.apply(self._parsed(path), i + 1, cfg, self.upserts)
            self.timed_read()
            self.timed_changes(v_from, self.target.manifest()["version"])
        self.window.append(cpuclock.mark())
        self.ingest = list(self.upserts)

    def oracle(self) -> DataFrame:
        log = self.seed_events.unionByName(self._parsed(self.wal))
        return lww_state_partial(log, set_col=self.MASK, payload=list(self.CELLS))

    def probe_source(self):
        return self._parsed(self.wal[0])


WORKLOADS = {w.name: w for w in (TailDebezium, BackfillBulk, SparseUpsertRead)}
